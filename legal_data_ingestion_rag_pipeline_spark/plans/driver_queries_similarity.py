"""Driver queries: dedup family, similarity search, text analysis, and
the end-to-end RAG search parity demo — the LLM-data-pipeline operator
set, each oracle-checked via the portable hash/dot arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import portable as PT
from ..functions import textstats as TS
from ..functions.chunking import chunk_text
from ..operators import ann, dedup, fts, graph
from ..session import barrier, load_table
from .registry import register

D = PT.DUCKDB
S = PT.SPARK


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(concat_ws(chr(1), CAST(text AS VARCHAR))) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY content_hash ORDER BY keep_id
    """,
    doc="Exact dedup: sha256 content hash, one representative (min id) "
    "per hash. One shuffle on a uniform key — skew-free at any scale.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id").orderBy("keep_id")


_MINHASH_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT doc_id, {PT.hash_array('toks', D)} AS tok_hashes FROM t),
    h AS (SELECT doc_id, {PT.word_ngram_hashes('tok_hashes', 3, D)} AS gram_hashes
          FROM g WHERE len(tok_hashes) >= 3),
    s AS (SELECT doc_id, {PT.minhash_from_hashes('gram_hashes', 32, D)} AS mh FROM h),
    banded AS (
      SELECT doc_id, mh, b AS band_idx, list_slice(mh, b*2 + 1, b*2 + 2) AS band_sig
      FROM s, unnest(range(16)) AS tt(b)
    ),
    capped AS (
      SELECT doc_id, mh, band_idx, band_sig FROM (
        SELECT banded.*, count(*) OVER (PARTITION BY band_idx, band_sig)
                 AS bucket_n
        FROM banded) t
      WHERE bucket_n <= 1000
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.mh AS mh_a, b.mh AS mh_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_filter(range(1, 33), i -> mh_a[i] = mh_b[i])) / 32.0 AS est_jaccard
    FROM pairs ORDER BY est_jaccard DESC, id_a, id_b LIMIT 20
"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    bench=True,
    doc="MinHash(32) + LSH(16 bands x 2 rows) near-dup candidates over "
    "word 3-shingles; est Jaccard = matching-slot fraction. The banded "
    "self-join only materializes same-bucket pairs — the n^2 cross "
    "never exists — and buckets above 1000 docs are dropped (enforced "
    "hot-bucket guard, mirrored in the oracle). Portable polynomial "
    "hashing keeps it oracle-exact.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.with_minhash(docs, "text", "doc_id", n_hashes=32, shingle_words=3)
    pairs = dedup.lsh_candidate_pairs(
        sigs.withColumnRenamed("doc_id", "doc_id"),
        "doc_id",
        n_hashes=32,
        bands=16,
        max_bucket_size=1000,
    )
    return (
        pairs.select("id_a", "id_b", "est_jaccard")
        .orderBy(F.desc("est_jaccard"), "id_a", "id_b")
        .limit(20)
    )


_SIMHASH_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    h AS (SELECT doc_id, {PT.hash_array('toks', D)} AS tok_hashes
          FROM t WHERE len(toks) > 0)
    SELECT doc_id, {PT.simhash_from_hashes('tok_hashes', 30, D)} AS simhash
    FROM h ORDER BY doc_id
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash(30-bit) per document over token hashes — near-dups "
    "differ in few bits; bucketing by prefix finds them without "
    "pairwise comparison. Map-side only, zero shuffle.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_docs(docs, "text", "doc_id", bits=30).orderBy("doc_id")


_NGRAM_JACCARD_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT doc_id, unnest({PT.word_ngrams('toks', 3, D)}) AS gram FROM t),
    gd AS (SELECT DISTINCT doc_id AS doc, gram FROM g),
    sizes AS (SELECT doc, count(*) AS n_grams FROM gd GROUP BY doc),
    dfreq AS (SELECT gram, count(*) AS gram_df FROM gd GROUP BY gram),
    filt AS (SELECT doc, gd.gram FROM gd JOIN dfreq USING (gram) WHERE gram_df <= 100),
    inter AS (
      SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common
      FROM filt a JOIN filt b ON a.gram = b.gram AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           n_common / CAST(sa.n_grams + sb.n_grams - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = id_a
    JOIN sizes sb ON sb.doc = id_b
    WHERE n_common / CAST(sa.n_grams + sb.n_grams - n_common AS DOUBLE) >= 0.05
    ORDER BY jaccard DESC, id_a, id_b LIMIT 100
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    doc="Exact word-3-gram Jaccard via inverted-index join with a "
    "document-frequency cap (hot-gram guard — the thing that keeps the "
    "join fan-out bounded at 100 TB).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.05, max_doc_freq=100
    )
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(100)


_DOT = PT.dot_double("a.embedding", "b.embedding", D)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DOT} AS similarity
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY similarity DESC, id_a, id_b LIMIT 20
    """,
    doc="Embedding-cosine near-dup: top pairs by similarity (unit "
    "vectors => dot). Exact pairwise AUDIT query — O(n^2); refuses "
    "corpora above max_rows. The scale path is dedup_embedding_srp_lsh "
    "(bucketed, never all-pairs).",
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, max_rows: int = 100_000
) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    # O(n^2) self-join: a deliberate exact audit twin of the gated
    # dedup_embedding_srp_lsh. Refuse rather than melt on a big corpus
    # (100k rows ~ 5e9 pairs is already the outer edge of sane).
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"dedup_embedding_cosine is an exact O(n^2) audit query; corpus "
            f"has {n} rows > max_rows={max_rows}. Use dedup_embedding_srp_lsh "
            f"(SRP-LSH bucketed) for large corpora, or raise max_rows "
            f"explicitly if you really mean it."
        )
    a = e.alias("a")
    b = e.alias("b")
    sim = F.expr(PT.dot_double("a.embedding", "b.embedding", S))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "id_a", "id_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------

_EDOT = PT.dot_double("e.embedding", "q.q_vec", D)


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5)
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT q.q_id, e.vec_id, {_EDOT} AS similarity,
             row_number() OVER (PARTITION BY q.q_id ORDER BY {_EDOT} DESC, e.vec_id) AS rank
      FROM embeddings e, q) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """,
    bench=True,
    doc="Exact cosine top-k (the reference's recall superset of IVFFLAT, "
    "rag.py:199-201): broadcast query set, map-side dot, per-query "
    "top-k window. Corpus is never shuffled.",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ann.brute_force_topk(e, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


_DOT_EC2 = PT.dot_double("e.embedding", "c.c_vec", D)
_DOT_QC2 = PT.dot_double("q.q_vec", "c.c_vec", D)
_DOT_EQ2 = PT.dot_double("e.embedding", "qc.q_vec", D)

# the probes=2 IVF is APPROXIMATE relative to brute force but fully
# deterministic (first-8 centroids), so even the approximate path is
# hash-gated: the oracle unrolls assignment -> probe -> rank in SQL.
_IVF_TOPK_ORACLE = f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS c_vec
               FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DOT_EC2} DESC, c.centroid_id) AS rn
        FROM embeddings e, c) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 5),
    qc AS (
      SELECT q_id, q_vec, centroid_id FROM (
        SELECT q.q_id, q.q_vec, c.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_DOT_QC2} DESC, c.centroid_id) AS rn
        FROM q, c) t WHERE rn <= 2
    ),
    cand AS (
      SELECT qc.q_id, e.vec_id, {_DOT_EQ2} AS similarity
      FROM embeddings e
      JOIN assign a ON e.vec_id = a.vec_id
      JOIN qc ON a.centroid_id = qc.centroid_id
    )
    SELECT q_id, vec_id, similarity, CAST(rn AS BIGINT) AS rank FROM (
      SELECT q_id, vec_id, similarity,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY similarity DESC, vec_id) AS rn
      FROM cand) t
    WHERE rn <= 10 ORDER BY q_id, rank
"""


@register(
    "ann_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    doc="IVF approximate top-k: deterministic coarse centroids (first 8 "
    "corpus vectors), probes=2 — the pgvector ivfflat lists/probes "
    "analog (rag.py:83-85,179-181). Scan touches ~probes/cells of the "
    "corpus; at 100 TB the assigned corpus is written partitioned by "
    "cell so probing prunes files.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assigned = ann.ivf_assign(e, centroids)
    out = ann.ivf_topk(assigned, centroids, queries, k=10, probes=2)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


@register(
    "ann_ivf_full_probe",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5)
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT q.q_id, e.vec_id, {_EDOT} AS similarity,
             row_number() OVER (PARTITION BY q.q_id ORDER BY {_EDOT} DESC, e.vec_id) AS rank
      FROM embeddings e, q) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """,
    doc="IVF recall contract: with probes = n_cells the probed "
    "candidate set is the whole corpus, so IVF must EQUAL brute force "
    "— the oracle is the exact-top-k SQL, hash-gating the entire IVF "
    "machinery (assignment, cell join, re-rank). The approximate "
    "ann_ivf_topk then only varies the probes knob.",
)
def ann_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assigned = ann.ivf_assign(e, centroids)
    out = ann.ivf_topk(assigned, centroids, queries, k=10, probes=8)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _lang_filter_sql(words: tuple[str, ...]) -> str:
    quoted = ", ".join("'" + w + "'" for w in words)
    return f"len(list_filter(toks, t -> t in ({quoted})))"


_LANG_STRUCTS = ", ".join(
    f"struct_pack(neg := -{_lang_filter_sql(TS.LANG_STOPWORDS[lang])}, lang := '{lang}')"
    for lang in sorted(TS.LANG_STOPWORDS)
)

_LANG_ORACLE = f"""
    WITH t AS (SELECT doc_id, lang, {PT.tokens('text', D)} AS toks FROM documents),
    p AS (
      SELECT doc_id, lang,
             list_sort([{_LANG_STRUCTS}]) AS ranked
      FROM t
    ),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN ranked[1].neg < 0 THEN ranked[1].lang ELSE 'und' END AS predicted
      FROM p
    )
    SELECT lang, predicted, count(*) AS cnt
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
"""


@register(
    "textstats_lang_id",
    oracle=_LANG_ORACLE,
    doc="Heuristic language ID (stopword evidence, deterministic argmax) "
    "vs the labeled lang column — output is the confusion matrix. "
    "Pure map-side expression + tiny aggregation.",
)
def textstats_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.withColumn("tokens", F.expr(PT.tokens("text", S)))
    pred = t.withColumn("predicted", TS.lang_id("tokens"))
    return (
        pred.groupBy("lang", "predicted")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "predicted")
    )


_PUNCT_CLASS_SQL = "[^.,;:!?''\"()\\[\\]-]"  # '' = escaped quote inside SQL literal

_QUALITY_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, text, {PT.tokens('text', D)} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '{TS.BPE_TOKEN_RE}')) AS BIGINT) AS bpe_tokens,
             length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g'))
               / greatest(length(text), 1) AS punct_ratio,
             len(list_filter(toks, t -> t in ({', '.join("'" + w + "'" for w in TS.EN_STOPWORDS)})))
               / greatest(len(toks), 1) AS stopword_ratio,
             {PT.reduce_(PT.transform('toks', 't -> CAST(length(t) AS BIGINT)', D), 'CAST(0 AS BIGINT)', '(acc, x) -> acc + x', D)}
               / greatest(len(toks), 1) AS mean_word_len
      FROM t
    )
    SELECT doc_id, n_tokens, bpe_tokens,
           {PT.round6('punct_ratio', D)} AS punct_ratio,
           {PT.round6('stopword_ratio', D)} AS stopword_ratio,
           {PT.round6('mean_word_len', D)} AS mean_word_len,
           {PT.round6('''0.35 * least(n_tokens / 64.0, 1.0)
                 + 0.25 * least(stopword_ratio * 4.0, 1.0)
                 + 0.2 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 1.0 ELSE 0.5 END)
                 + 0.2 * (1.0 - least(punct_ratio * 4.0, 1.0))''', D)} AS quality
    FROM m ORDER BY doc_id
"""


@register(
    "textstats_quality",
    oracle=_QUALITY_ORACLE,
    bench=True,
    doc="Quality scoring: token counts (whitespace + BPE-ish regex), "
    "punctuation/stopword ratios, mean word length, composite score. "
    "Arrow-batched single pass (bit-identical to the Column-expression "
    "spec in textstats_quality_sql_path, which the oracle mirrors).",
)
def textstats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return TS.quality_stats_arrow(barrier(docs), "text", "doc_id").orderBy("doc_id")


def textstats_quality_sql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure Column-expression formulation (the spec the Arrow fast
    path must match bit-for-bit; parity asserted in tests)."""
    docs = _t(spark, sf_dir, "documents")
    t = barrier(docs.withColumn("tokens", F.expr(PT.tokens("text", S))))
    return t.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_tokens"),
        TS.bpe_token_count("text").cast("bigint").alias("bpe_tokens"),
        TS.round6(TS.punct_ratio("text")).alias("punct_ratio"),
        TS.round6(TS.stopword_ratio("tokens")).alias("stopword_ratio"),
        TS.round6(TS.mean_word_len("tokens")).alias("mean_word_len"),
        TS.quality_score("text", "tokens").alias("quality"),
    ).orderBy("doc_id")


_FPRINT_ORACLE = f"""
    WITH g AS (SELECT doc_id, {PT.char_ngrams('text', 8, D)} AS grams FROM documents)
    SELECT doc_id,
           {PT.array_min(PT.transform('grams', f"g -> {PT.poly_hash('g', D)}", D), D)} AS fingerprint
    FROM g ORDER BY doc_id
"""


@register(
    "textstats_fingerprint",
    oracle=_FPRINT_ORACLE,
    doc="Winnowing-style document fingerprint: min polynomial hash over "
    "8-char shingles (rolling-hash family). Map-side only.",
)
def textstats_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("grams8", F.expr(PT.char_ngrams("text", 8, S)))
        .withColumn("gh", F.expr(PT.hash_array("grams8", S)))
        .select("doc_id", F.expr(PT.array_min("gh", S)).alias("fingerprint"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Full-text search (reference schema.sql:140-141 declares the GIN index
# but never queries it — here it's a real queryable operator).
# ---------------------------------------------------------------------------

_FTS_TERMS = ("vector", "merge", "window")
_FTS_K = 10

_FTS_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    docs2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
    stats AS (SELECT count(*) AS n_docs, CAST(avg(dl) AS DOUBLE) AS avgdl FROM docs2),
    hits AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM docs2
      ) WHERE term IN ('vector', 'merge', 'window')
      GROUP BY doc_id, dl, term
    ),
    dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             CAST(floor(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
               * CAST(h.tf AS DOUBLE) * 2.2
               / (CAST(h.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(h.dl AS DOUBLE) / s.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS micro
      FROM hits h JOIN dfs d ON h.term = d.term CROSS JOIN stats s
    )
    SELECT doc_id, count(*) AS n_terms_hit,
           CAST(sum(micro) AS DOUBLE) / 1000000.0 AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {_FTS_K}
    """


@register(
    "fts_bm25_search",
    oracle=_FTS_ORACLE,
    doc="Okapi BM25 keyword search over documents (operators/fts.py): "
    "postings are pruned to the query terms BEFORE any shuffle, "
    "df/avgdl scalars broadcast back, per-(doc,term) partials "
    "quantized to integer micro-units so the per-doc sum is "
    "addition-order independent, final TakeOrderedAndProject top-k. "
    "Covers the reference's declared-but-unqueried FTS surface "
    "(schema.sql:140-141) as a real operator.",
)
def fts_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fts.bm25_topk(
        docs, "doc_id", "text", list(_FTS_TERMS), k=_FTS_K
    )


# ---------------------------------------------------------------------------
# Embedding storage tier: per-vector affine int8 quantization (SQ8).
# ---------------------------------------------------------------------------

def _quant_oracle() -> str:
    from ..operators import quantize as Q

    parts = Q.quantize_int8_sql("embedding", D)
    return f"""
    SELECT vec_id,
           {PT.round6(parts['vmin'], D)} AS vmin,
           {PT.round6(parts['vmax'], D)} AS vmax,
           {PT.array_join(parts['q'], ',', D)} AS q_csv,
           {Q.dequantize_max_err_sql('embedding', D)} AS max_err
    FROM embeddings ORDER BY vec_id
    """


@register(
    "embedding_quantize_int8",
    oracle=_quant_oracle(),
    doc="SQ8 storage tier for the embedding column (operators/"
    "quantize.py): per-vector affine int8 — (vmin, vmax, 64 bytes) "
    "instead of 64 doubles, a 4-8x cut of the biggest column a "
    "training lake stores, plus the realized max reconstruction "
    "error per vector as the quality gate. Pure element-wise "
    "whole-stage-codegen expressions, map-side, no shuffle; "
    "floor-based rounding keeps both engines bit-identical.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quantize as Q

    emb = _t(spark, sf_dir, "embeddings")
    cols = Q.quantize_int8("embedding")
    return emb.select(
        "vec_id",
        cols["vmin"].alias("vmin"),
        cols["vmax"].alias("vmax"),
        cols["q_csv"].alias("q_csv"),
        cols["max_err"].alias("max_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# RAG end-to-end search parity (T12 chunk -> T13 embed -> O3 top-k pool ->
# A9 per-doc argmax -> final top-k), with a deterministic hash embedder.
# ---------------------------------------------------------------------------

_RAG_QUERY_TEXT = "spark data merge join window query"
_EMB_DIM = 16


def _hash_embed_slots_sql(hashes_col: str, dialect: str) -> str:
    """16-dim embedding: slot d = count of token hashes with h % 16 == d."""
    slots = [
        f"CAST(len({PT.filter_(hashes_col, f'h -> h % {_EMB_DIM} = {d}', dialect)}) AS DOUBLE)"
        if dialect == D
        else f"CAST(size({PT.filter_(hashes_col, f'h -> h % {_EMB_DIM} = {d}', dialect)}) AS DOUBLE)"
        for d in range(_EMB_DIM)
    ]
    return ("[" if dialect == D else "array(") + ", ".join(slots) + ("]" if dialect == D else ")")


_RAG_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ),
    exploded AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             trim(substr(text, CAST(i * 100 + 1 AS INT), 120)) AS chunk
      FROM d, unnest(range(1 + CAST(greatest(ceil((n - 120) / 100.0), 0) AS BIGINT))) AS t(i)
    ),
    ch AS (
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS chunk_id,
             chunk AS chunk_text
      FROM exploded WHERE chunk != ''
    ),
    tk AS (
      SELECT doc_id, chunk_id, chunk_text,
             {PT.hash_array(PT.tokens('chunk_text', D), D)} AS th
      FROM ch
    ),
    emb AS (
      SELECT doc_id, chunk_id, chunk_text,
             {_hash_embed_slots_sql('th', D)} AS v
      FROM tk WHERE len(th) > 0
    ),
    qt AS (
      SELECT {PT.hash_array(PT.tokens(f"'{_RAG_QUERY_TEXT}'", D), D)} AS qh
    ),
    qe AS (SELECT {_hash_embed_slots_sql('qh', D)} AS qv FROM qt),
    nemb AS (
      SELECT doc_id, chunk_id, chunk_text,
             list_transform(v, x -> x / sqrt({PT.dot_double('v', 'v', D)})) AS nv
      FROM emb
    ),
    nq AS (
      SELECT list_transform(qv, x -> x / sqrt({PT.dot_double('qv', 'qv', D)})) AS nqv
      FROM qe
    ),
    scored AS (
      SELECT doc_id, chunk_id, chunk_text, {PT.dot_double('nv', 'nqv', D)} AS sim
      FROM nemb, nq
    ),
    pool AS (
      SELECT * FROM scored ORDER BY sim DESC, doc_id, chunk_id LIMIT 50
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, chunk_id) AS rn
      FROM pool
    )
    SELECT doc_id, chunk_id, sim AS similarity, substr(chunk_text, 1, 64) AS snippet
    FROM best WHERE rn = 1 ORDER BY similarity DESC, doc_id LIMIT 5
"""


def _rag_scored_arrow(docs: DataFrame) -> DataFrame:
    """Arrow-batched chunk -> hash-embed -> cosine score with
    ``portable.hash_embed`` on both sides, bit-identical to the
    Column-expression path (fold-left double arithmetic everywhere;
    Spark/DuckDB trim() strips ' ' only, so .strip(' ') not .strip()).
    One Python stage replaces three expression barriers and their
    codegen cost."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    qv = PT.hash_embed(_RAG_QUERY_TEXT, _EMB_DIM)
    size, overlap = 120, 20
    stride = size - overlap

    schema = T.StructType(
        [
            T.StructField("doc_id", docs.schema["doc_id"].dataType, True),
            T.StructField("chunk_id", T.LongType(), True),
            T.StructField("chunk_text", T.StringType(), True),
            T.StructField("sim", T.DoubleType(), True),
        ]
    )

    def _batches(it):
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not text:
                    continue
                n = len(text)
                k = 1 + max(math.ceil((n - size) / stride), 0)
                cid = 0
                for i in range(k):
                    chunk = text[i * stride : i * stride + size].strip(" ")
                    if chunk == "":
                        continue
                    v = PT.hash_embed(chunk, _EMB_DIM)
                    if any(v):  # the expression path drops token-less chunks
                        sim = 0.0
                        for x, y in zip(v, qv):
                            sim = sim + x * y
                        out.append((doc_id, cid, chunk, sim))
                    cid += 1
            yield pd.DataFrame(
                out, columns=["doc_id", "chunk_id", "chunk_text", "sim"]
            )

    return docs.select("doc_id", "text").mapInPandas(_batches, schema)


@register(
    "rag_semantic_search",
    oracle=_RAG_ORACLE,
    bench=True,
    doc="search_dockets parity (rag.py:158-227): chunk(120/20) -> "
    "deterministic hash embedder (CI stand-in for the pandas_udf "
    "sentence-transformer, same interface) -> cosine -> candidate pool "
    "LIMIT max(k*10,50) -> per-doc argmax -> top-k docs. Chunk+embed+"
    "score run as one Arrow stage (bit-identical to the expression "
    "spec in rag_semantic_search_sql_path); pool/argmax/top-k stay "
    "Catalyst (TakeOrderedAndProject + one window).",
)
def rag_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = barrier(_t(spark, sf_dir, "documents"))
    scored = _rag_scored_arrow(docs)
    pool = scored.orderBy(F.desc("sim"), "doc_id", "chunk_id").limit(50)
    w = Window.partitionBy("doc_id").orderBy(F.desc("sim"), "chunk_id")
    best = pool.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("sim").alias("similarity"),
            F.substring("chunk_text", 1, 64).alias("snippet"),
        )
        .orderBy(F.desc("similarity"), "doc_id")
        .limit(5)
    )


def rag_semantic_search_sql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition the (single-file) input first so chunking/hashing use
    # every core instead of the file's one partition.
    docs = barrier(_t(spark, sf_dir, "documents"))
    chunks = chunk_text(docs, size=120, overlap=20)
    tk = barrier(
        chunks.withColumn(
            "th", F.expr(PT.hash_array(PT.tokens("chunk_text", S), S))
        ).filter(F.size("th") > 0)
    )
    # second barrier: materialize v before normalization, else the
    # per-element lambda re-inlines the 16-slot embedding expression
    # (16x16 recompute; measured 8x slower).
    emb = barrier(tk.withColumn("v", F.expr(_hash_embed_slots_sql("th", S))))
    # NO vv>0 filter here: size(th)>0 already guarantees a positive norm,
    # and a filter on the dot expression gets predicate-pushed below the
    # barriers, re-inlining the whole hash pipeline (measured 13s vs 2s).
    nemb = emb.withColumn(
        "nv", F.expr(f"transform(v, x -> x / sqrt({PT.dot_double('v', 'v', S)}))")
    )
    q = (
        spark.range(1)
        .select(F.expr(PT.hash_array(PT.tokens(f"'{_RAG_QUERY_TEXT}'", S), S)).alias("qh"))
        .select(F.expr(_hash_embed_slots_sql("qh", S)).alias("qv"))
        .select(
            F.expr(
                f"transform(qv, x -> x / sqrt({PT.dot_double('qv', 'qv', S)}))"
            ).alias("nqv")
        )
    )
    scored = nemb.crossJoin(F.broadcast(q)).withColumn(
        "sim", F.expr(PT.dot_double("nv", "nqv", S))
    )
    pool = scored.orderBy(F.desc("sim"), "doc_id", "chunk_id").limit(50)
    w = Window.partitionBy("doc_id").orderBy(F.desc("sim"), "chunk_id")
    best = pool.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("sim").alias("similarity"),
            F.substring("chunk_text", 1, 64).alias("snippet"),
        )
        .orderBy(F.desc("similarity"), "doc_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# End-to-end curation: the training-data story query — quality score +
# language ID + exact dedup composed into one selection pass.
# ---------------------------------------------------------------------------

_CURATION_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, text, {PT.tokens('text', D)} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, toks,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g'))
               / greatest(length(text), 1) AS punct_ratio,
             len(list_filter(toks, t -> t in ({', '.join("'" + w + "'" for w in TS.EN_STOPWORDS)})))
               / greatest(len(toks), 1) AS stopword_ratio,
             {PT.reduce_(PT.transform('toks', 't -> CAST(length(t) AS BIGINT)', D), 'CAST(0 AS BIGINT)', '(acc, x) -> acc + x', D)}
               / greatest(len(toks), 1) AS mean_word_len
      FROM t
    ),
    q AS (
      SELECT doc_id, toks,
             {PT.round6('''0.35 * least(n_tokens / 64.0, 1.0)
                 + 0.25 * least(stopword_ratio * 4.0, 1.0)
                 + 0.2 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 1.0 ELSE 0.5 END)
                 + 0.2 * (1.0 - least(punct_ratio * 4.0, 1.0))''', D)} AS quality
      FROM m
    ),
    l AS (
      SELECT doc_id, list_sort([{_LANG_STRUCTS}]) AS ranked FROM q
    ),
    lang AS (
      SELECT doc_id,
             CASE WHEN ranked[1].neg < 0 THEN ranked[1].lang ELSE 'und' END AS predicted
      FROM l
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
    SELECT q.doc_id, lang.predicted AS lang_pred, q.quality
    FROM q
    JOIN lang USING (doc_id)
    JOIN keep USING (doc_id)
    WHERE q.quality >= 0.5 AND lang.predicted = 'en'
    ORDER BY q.doc_id
"""


@register(
    "curation_pipeline",
    oracle=_CURATION_ORACLE,
    bench=True,
    doc="end-to-end training-data curation: quality scoring (Arrow "
    "fast path) + stopword language ID + exact dedup composed into one "
    "selection — keep English docs with quality >= 0.5, one "
    "representative per identical text. The composition is one join "
    "tree over three map-side passes plus the dedup groupBy; at "
    "100 TB each stage stays shuffle-disciplined (dedup on the "
    "uniform content hash is the only wide op).",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = barrier(_t(spark, sf_dir, "documents"))
    stats = TS.curation_stats_arrow(docs, "text", "doc_id")
    keep = dedup.exact_dedup(docs, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        stats.join(keep, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
        .select("doc_id", "lang_pred", "quality")
        .orderBy("doc_id")
    )


_WINNOW_ORACLE = f"""
    WITH g AS (
      SELECT doc_id, {PT.hash_array(PT.char_ngrams('text', 8, D), D)} AS gh
      FROM documents WHERE length(text) >= 8
    ),
    w AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, len(gh) - 4 + 2),
                              i -> list_min(list_slice(gh, i, i + 4 - 1)))
             )) AS fingerprints
      FROM g WHERE len(gh) >= 4
    )
    SELECT doc_id, array_to_string(fingerprints, ',') AS fingerprints,
           CAST(len(fingerprints) AS BIGINT) AS n_fingerprints
    FROM w ORDER BY doc_id
"""


@register(
    "fingerprint_winnowing",
    oracle=_WINNOW_ORACLE,
    doc="true winnowing (Schleimer et al.): min hash of every "
    "sliding window (w=4) over char-8-gram hashes, deduplicated — "
    "guarantees a shared fingerprint for any sufficiently long common "
    "substring, unlike the single global min. Map-side only; the "
    "fingerprint set (~2m/w values) is what a plagiarism/near-dup "
    "index would shuffle, not the text.",
)
def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = 4
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    g = barrier(
        docs.withColumn(
            "gh", F.expr(PT.hash_array(PT.char_ngrams("text", 8, S), S))
        ).filter(F.size("gh") >= w)
    )
    mins = F.expr(
        f"transform(sequence(1, size(gh) - {w} + 1), i -> array_min(slice(gh, i, {w})))"
    )
    return (
        g.select(
            "doc_id",
            F.array_sort(F.array_distinct(mins)).alias("fp_arr"),
        )
        .withColumn("n_fingerprints", F.size("fp_arr").cast("bigint"))
        # serialize for the gate: the driver canonicalizer cannot hash
        # list cells; bigints stringify identically in both engines
        .select(
            "doc_id",
            F.concat_ws(",", F.col("fp_arr")).alias("fingerprints"),
            "n_fingerprints",
        )
        .orderBy("doc_id")
    )


_SIMHASH_PAIRS_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    h AS (SELECT doc_id, {PT.hash_array('toks', D)} AS tok_hashes
          FROM t WHERE len(toks) > 0),
    s AS (SELECT doc_id, {PT.simhash_from_hashes('tok_hashes', 30, D)} AS simhash
          FROM h),
    b AS (SELECT doc_id, simhash, simhash // 1048576 AS bucket FROM s)
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.simhash, b2.simhash)) <= 6
    ORDER BY hamming, id_a, id_b LIMIT 100
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    doc="SimHash near-dup FIND step: bucket by the top-10-bit prefix "
    "(signatures within small Hamming distance usually share it), "
    "equi-join inside buckets only, then the exact bit_count(xor) "
    "filter. The prefix join is the hash-join analog of LSH banding — "
    "pair generation is bounded by bucket size, never n^2. (Multi-"
    "rotation bucketing recovers the recall a single prefix misses.)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.simhash_docs(docs, "text", "doc_id", bits=30).withColumn(
        "bucket", F.expr("simhash div 1048576")
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)").cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .orderBy("hamming", "id_a", "id_b")
        .limit(100)
    )


_DOT_EC = PT.dot_double("e.embedding", "c.c_vec", D)
_DOT_QC = PT.dot_double("q.q_vec", "c.c_vec", D)
_DOT_EQ = PT.dot_double("e.embedding", "qc.q_vec", D)

_IVF_RECALL_ORACLE = f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS c_vec
               FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DOT_EC} DESC, c.centroid_id) AS rn
        FROM embeddings e, c) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 5),
    qc AS (
      SELECT q_id, q_vec, centroid_id FROM (
        SELECT q.q_id, q.q_vec, c.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_DOT_QC} DESC, c.centroid_id) AS rn
        FROM q, c) t WHERE rn <= 2
    ),
    cand AS (
      SELECT qc.q_id, e.vec_id, {_DOT_EQ} AS sim
      FROM embeddings e
      JOIN assign a ON e.vec_id = a.vec_id
      JOIN qc ON a.centroid_id = qc.centroid_id
    ),
    ivf AS (SELECT q_id, vec_id FROM (
              SELECT q_id, vec_id,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY sim DESC, vec_id) AS rn
              FROM cand) t WHERE rn <= 10),
    bf AS (SELECT q_id, vec_id FROM (
             SELECT q.q_id, e.vec_id,
                    row_number() OVER (PARTITION BY q.q_id
                                       ORDER BY {PT.dot_double("e.embedding", "q.q_vec", D)} DESC, e.vec_id) AS rn
             FROM embeddings e, q) t WHERE rn <= 10)
    SELECT i.q_id,
           CAST(count(b.vec_id) AS DOUBLE) / CAST(10.0 AS DOUBLE) AS recall_at_10
    FROM ivf i LEFT JOIN bf b ON i.q_id = b.q_id AND i.vec_id = b.vec_id
    GROUP BY i.q_id ORDER BY i.q_id
"""


@register(
    "ann_ivf_recall",
    oracle=_IVF_RECALL_ORACLE,
    doc="IVF quality metric, hash-gated: recall@10 of the probes=2 "
    "approximate search against exact brute force, per query. The "
    "recall/latency trade the reference exposes as ivfflat probes "
    "(rag.py:179-181) becomes a measured, oracle-checked number — the "
    "monitoring query a production ANN deployment runs on a sample.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assigned = ann.ivf_assign(e, centroids)
    ivf = ann.ivf_topk(assigned, centroids, queries, k=10, probes=2).select(
        "q_id", "vec_id"
    )
    bf = ann.brute_force_topk(e, queries, k=10).select(
        F.col("q_id").alias("b_q"), F.col("vec_id").alias("b_v")
    )
    j = ivf.join(
        bf, (ivf.q_id == bf.b_q) & (ivf.vec_id == bf.b_v), "left"
    )
    return (
        j.groupBy("q_id")
        .agg(
            (F.count("b_v").cast("double") / F.lit(10.0)).alias("recall_at_10")
        )
        .orderBy("q_id")
    )


@register(
    "dedup_incremental_exact",
    oracle="""
    WITH corpus AS (
      SELECT sha256(concat_ws(chr(1), CAST(text AS VARCHAR))) AS h,
             min(doc_id) AS canonical_id
      FROM documents WHERE doc_id < 250 GROUP BY h
    ),
    batch AS (
      SELECT doc_id, sha256(concat_ws(chr(1), CAST(text AS VARCHAR))) AS h
      FROM documents WHERE doc_id >= 250
    )
    SELECT b.doc_id, c.canonical_id,
           (c.canonical_id IS NOT NULL) AS is_duplicate
    FROM batch b LEFT JOIN corpus c USING (h)
    ORDER BY b.doc_id
    """,
    doc="incremental dedup — the production flow: a NEW batch joins "
    "against the standing corpus's content-hash index instead of "
    "re-deduping the world. The corpus side is (hash, canonical_id) — "
    "tiny next to the text — and the join shuffles only the batch; at "
    "100 TB the hash index is a bucketed table and the batch join is "
    "shuffle-free on the bucket key.",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = dedup.exact_dedup(
        docs.filter(F.col("doc_id") < 250), ["text"], "doc_id"
    ).select(
        F.col("content_hash").alias("h"), F.col("keep_id").alias("canonical_id")
    )
    batch = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id",
        F.sha2(F.concat_ws("\x01", F.col("text").cast("string")), 256).alias("h"),
    )
    return (
        batch.join(corpus, "h", "left")
        .select(
            "doc_id",
            "canonical_id",
            F.col("canonical_id").isNotNull().alias("is_duplicate"),
        )
        .orderBy("doc_id")
    )


_INC_MH_THRESHOLD = 0.5

_INC_MINHASH_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT doc_id, {PT.hash_array('toks', D)} AS tok_hashes FROM t),
    h AS (SELECT doc_id, {PT.word_ngram_hashes('tok_hashes', 3, D)} AS gram_hashes
          FROM g WHERE len(tok_hashes) >= 3),
    s AS (SELECT doc_id, {PT.minhash_from_hashes('gram_hashes', 32, D)} AS mh FROM h),
    bix AS (SELECT doc_id AS match_id, mh,
                   b AS band_idx, list_slice(mh, b*2 + 1, b*2 + 2) AS band_sig
            FROM s, unnest(range(16)) tt(b) WHERE doc_id < 250),
    bb AS (SELECT doc_id, mh,
                  b AS band_idx, list_slice(mh, b*2 + 1, b*2 + 2) AS band_sig
           FROM s, unnest(range(16)) tt(b) WHERE doc_id >= 250),
    cand AS (SELECT DISTINCT bb.doc_id, bix.match_id,
                    bb.mh AS mh_b, bix.mh AS mh_c
             FROM bb JOIN bix USING (band_idx, band_sig)),
    scored AS (SELECT doc_id, match_id,
                 len(list_filter(range(1, 33), i -> mh_b[i] = mh_c[i])) / 32.0
                   AS est_jaccard
               FROM cand
               WHERE len(list_filter(range(1, 33), i -> mh_b[i] = mh_c[i]))
                     / 32.0 >= {_INC_MH_THRESHOLD})
    SELECT doc_id, match_id, est_jaccard FROM (
      SELECT doc_id, match_id, est_jaccard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY est_jaccard DESC, match_id) AS rn
      FROM scored) WHERE rn = 1
    ORDER BY doc_id
"""


@register(
    "dedup_incremental_minhash",
    oracle=_INC_MINHASH_ORACLE,
    bench=True,
    doc="incremental NEAR-dup — the minhash complement of "
    "dedup_incremental_exact: the standing corpus's banded signature "
    "index (lsh_band_index — in production a bucketed table on "
    "(band_idx, band_sig)) is probed by the new batch's bands; per "
    "batch doc the best corpus match above est-Jaccard 0.5 survives "
    "via a groupBy struct-max (no window over candidates). Only the "
    "batch is signed and banded at probe time — the corpus is never "
    "re-scanned, which is what makes daily crawls affordable "
    "(operators/dedup.py lsh_probe_index).",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.with_minhash(docs, "text", "doc_id")
    index = dedup.lsh_band_index(
        sigs.filter(F.col("doc_id") < 250), "doc_id"
    )
    batch = sigs.filter(F.col("doc_id") >= 250)
    return dedup.lsh_probe_index(
        batch, index, "doc_id", threshold=_INC_MH_THRESHOLD
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# SRP-LSH: sign-random-projection bucketing for embedding near-dup at
# scale (the LSH-bucketed variant of dedup_embedding_cosine).
# ---------------------------------------------------------------------------

def _srp_plane(p: int, dialect: str) -> str:
    """Deterministic pseudo-hyperplane p: component d is a fixed
    rational in [-0.5, 0.5) from the portable constant family —
    identical arithmetic in both engines."""
    a, b = PT._perm_constants(16)[p]
    val = f"(CAST(((({a} * (CAST(d AS BIGINT) + {p + 1})) + {b}) % 1000003) AS DOUBLE) / 1000003.0 - 0.5)"
    comp = f"CAST({PT.element_at_1based('embedding', 'd + 1', dialect)} AS DOUBLE) * {val}"
    idx = PT.sequence("0", "63", dialect)
    prods = PT.transform(idx, f"d -> {comp}", dialect)
    return PT.reduce_(prods, "CAST(0.0 AS DOUBLE)", "(s, x) -> s + x", dialect)


def _srp_bucket(dialect: str, planes: int = 8, offset: int = 0) -> str:
    """8-bit SRP code from planes [offset, offset+planes); offset
    selects an independent hash table (band) from the 16-constant
    family — multi-table repetition is how SRP recovers recall."""
    bits = [
        f"(CASE WHEN ({_srp_plane(offset + i, dialect)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(planes)
    ]
    return "(" + " + ".join(bits) + ")"


_SRP_ORACLE = f"""
    WITH b AS (
      SELECT vec_id, embedding, {_srp_bucket(D)} AS bucket FROM embeddings
    )
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.bucket,
           {PT.dot_double('a.embedding', 'b2.embedding', D)} AS similarity
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ORDER BY similarity DESC, id_a, id_b LIMIT 20
"""


@register(
    "dedup_embedding_srp_lsh",
    oracle=_SRP_ORACLE,
    doc="embedding near-dup at scale: sign-random-projection LSH — 8 "
    "deterministic hyperplanes give a 256-bucket code; cosine-close "
    "vectors land in the same bucket with high probability, so exact "
    "similarity only runs INSIDE buckets (the n^2 cross never exists, "
    "same discipline as MinHash banding). Multi-table repetition "
    "recovers recall; the exact dedup_embedding_cosine is the audit.",
)
def dedup_embedding_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    b = barrier(e.withColumn("bucket", F.expr(_srp_bucket(S))))
    a = b.alias("a")
    b2 = b.alias("b2")
    sim = F.expr(PT.dot_double("a.embedding", "b2.embedding", S))
    return (
        a.join(
            b2,
            (F.col("a.bucket") == F.col("b2.bucket"))
            & (F.col("a.vec_id") < F.col("b2.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b2.vec_id").alias("id_b"),
            F.col("a.bucket").alias("bucket"),
            sim.alias("similarity"),
        )
        .orderBy(F.desc("similarity"), "id_a", "id_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup candidate pairs — the clustering
# step that turns pairwise dedup hits into keep/drop groups.
# ---------------------------------------------------------------------------

#: Exact fixpoint oracle: transitive min-closure as a recursive CTE.
#: UNION (distinct) bounds the state space, so recursion terminates,
#: and min(label) over everything reachable IS the component minimum —
#: no unrolled round count to keep in sync with the Spark loop, which
#: now iterates to a MEASURED fixpoint (operators/graph.py).
_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS ({{pairs}}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs),
    nbr AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    reach(vertex, label) AS (
      SELECT DISTINCT src AS vertex, src AS label FROM nbr
      UNION
      SELECT nbr.src, reach.label FROM nbr JOIN reach ON reach.vertex = nbr.dst
    ),
    labels AS (SELECT vertex, min(label) AS label FROM reach GROUP BY vertex)
    SELECT label AS cluster_id, count(*) AS n_members,
           min(vertex) AS min_doc, max(vertex) AS max_doc
    FROM labels GROUP BY label ORDER BY cluster_id
    """


@register(
    "dedup_cluster_components",
    oracle=_CC_ORACLE.format(pairs=_MINHASH_ORACLE.replace("LIMIT 20", "")),
    doc="connected components over the MinHash-LSH candidate pairs "
    "(alternating large-star/small-star contraction iterated to a "
    "measured edge-set fixpoint, operators/graph.py — O(log n) "
    "rounds regardless of diameter, round 9): pairwise hits become "
    "keep/drop clusters keyed by the minimum member id. Each round "
    "is a constant number of edge-keyed shuffles over "
    "localCheckpointed frontiers; at 100 TB this is the Kiveris "
    "map-reduce CC, and the fixpoint check replaces any fixed round "
    "budget that could silently under-propagate on long chains. "
    "Oracle: exact recursive-CTE min-closure.",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.with_minhash(docs, "text", "doc_id", n_hashes=32, shingle_words=3)
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", n_hashes=32, bands=16, max_bucket_size=1000
    ).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = graph.connected_components(pairs)
    return graph.cluster_summary(labels).orderBy("cluster_id")


_DECONTAM_ORACLE = f"""
    WITH probes AS (
      SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0
    ),
    pt AS (SELECT bench_id, {PT.tokens('text', D)} AS toks FROM probes),
    pg AS (SELECT DISTINCT bench_id, unnest({PT.word_ngrams('toks', 3, D)}) AS gram FROM pt),
    psz AS (SELECT bench_id, count(*) AS probe_n_grams FROM pg GROUP BY bench_id),
    ct AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    cg AS (SELECT DISTINCT doc_id, unnest({PT.word_ngrams('toks', 3, D)}) AS gram FROM ct),
    hits AS (
      SELECT pg.bench_id, cg.doc_id, count(*) AS n_common
      FROM cg JOIN pg USING (gram)
      WHERE cg.doc_id != pg.bench_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT h.bench_id, h.doc_id, h.n_common,
           {PT.round6('h.n_common / CAST(p.probe_n_grams AS DOUBLE)', D)} AS frac
    FROM hits h JOIN psz p USING (bench_id)
    ORDER BY frac DESC, bench_id, doc_id LIMIT 100
    """


@register(
    "decontamination_overlap",
    oracle=_DECONTAM_ORACLE,
    doc="benchmark decontamination (operators/dedup.contamination_"
    "overlap): corpus docs sharing >= 2 word-3-grams with any eval-set "
    "item, with the containment fraction per hit. The probe set (small) "
    "broadcasts as distinct grams; the corpus side streams map-side "
    "into the broadcast join — the 100 TB side is never shuffled for "
    "the match, only surviving hits aggregate. No probe-side DF cap: "
    "dropping a common gram could hide real contamination.",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    # probes are sampled FROM the corpus here, so self-pairs are real
    # identities (same id namespace) and must be excluded; in a true
    # decontamination run the namespaces differ and the flag stays off.
    hits = dedup.contamination_overlap(
        docs, probes, text_col="text", corpus_id="doc_id",
        probe_id="bench_id", n=3, min_common=2, exclude_self_ids=True,
    )
    return (
        hits.select("bench_id", "doc_id", "n_common", "frac")
        .orderBy(F.desc("frac"), "bench_id", "doc_id")
        .limit(100)
    )


_REPETITION_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    base AS (
      SELECT doc_id, toks, len(toks) AS n_tokens,
             {PT.word_ngrams('toks', 2, D)} AS grams2
      FROM t WHERE len(toks) >= 2
    ),
    tok_counts AS (
      SELECT doc_id, count(*) AS top_tok_n FROM (
        SELECT doc_id, unnest(toks) AS tok FROM base
      ) GROUP BY doc_id, tok
    ),
    top_tok AS (SELECT doc_id, max(top_tok_n) AS top_tok_n FROM tok_counts GROUP BY doc_id),
    gr AS (
      SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
      FROM (SELECT doc_id, unnest(grams2) AS gram FROM base)
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           {PT.round6('t.top_tok_n / CAST(b.n_tokens AS DOUBLE)', D)} AS top_token_frac,
           {PT.round6('1.0 - g.n_distinct / CAST(g.n_grams AS DOUBLE)', D)} AS dup_2gram_frac,
           CASE WHEN t.top_tok_n / CAST(b.n_tokens AS DOUBLE) > 0.2
                  OR 1.0 - g.n_distinct / CAST(g.n_grams AS DOUBLE) > 0.6
                THEN 'repetitive' ELSE 'ok' END AS verdict
    FROM base b JOIN top_tok t USING (doc_id) JOIN gr g USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "textstats_repetition",
    oracle=_REPETITION_ORACLE,
    doc="repetition quality filter (Gopher/C4-style rules): per-doc "
    "top-token fraction and duplicate-2-gram fraction, with the "
    "repetitive/ok verdict a curation pass gates on. Explode + "
    "count shuffles keyed by (doc, token) — uniform, skew-free; "
    "thresholds mirror the published heuristics (top token > 0.2, "
    "dup 2-grams > 0.6).",
)
def textstats_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = (
        docs.withColumn("toks", F.expr(PT.tokens("text", S)))
        .withColumn("n_tokens", F.size("toks"))
        .filter(F.col("n_tokens") >= 2)
        .withColumn("grams2", F.expr(PT.word_ngrams("toks", 2, S)))
        .select("doc_id", "toks", "n_tokens", "grams2")
    )
    top_tok = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_n"))
    )
    gr = (
        base.select("doc_id", F.explode("grams2").alias("gram"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.countDistinct("gram").alias("n_distinct"),
        )
    )
    j = (
        base.select("doc_id", "n_tokens")
        .join(top_tok, "doc_id")
        .join(gr, "doc_id")
    )
    ttf = F.col("top_tok_n") / F.col("n_tokens").cast("double")
    dgf = F.lit(1.0) - F.col("n_distinct") / F.col("n_grams").cast("double")
    return j.select(
        "doc_id",
        "n_tokens",
        F.expr(PT.round6("top_tok_n / CAST(n_tokens AS DOUBLE)", S)).alias(
            "top_token_frac"
        ),
        F.expr(PT.round6("1.0 - n_distinct / CAST(n_grams AS DOUBLE)", S)).alias(
            "dup_2gram_frac"
        ),
        F.when((ttf > 0.2) | (dgf > 0.6), "repetitive")
        .otherwise("ok")
        .alias("verdict"),
    ).orderBy("doc_id")


_PACKING_ORACLE = f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({PT.tokens('text', D)}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS prefix_tokens
      FROM t
    ),
    p AS (
      SELECT source, doc_id, n_tokens,
             CAST(prefix_tokens // 2048 AS BIGINT) AS pack_id FROM c
    )
    SELECT source, pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM p GROUP BY source, pack_id ORDER BY source, pack_id
    """


@register(
    "sequence_packing",
    oracle=_PACKING_ORACLE,
    doc="training-sequence packing: documents are packed into ~2048-"
    "token bins per source shard (pack_id = exclusive-prefix token "
    "count DIV budget over doc_id order). The running sum windows by "
    "SOURCE — the shard a packer owns — so no global single-partition "
    "window exists at 100 TB; each shard packs independently, exactly "
    "how distributed tokenizer-packer jobs shard.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        F.size(F.expr(PT.tokens("text", S))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("prefix_tokens")
    p = t.select("source", "doc_id", "n_tokens", prefix).withColumn(
        "pack_id", F.expr("prefix_tokens DIV 2048")
    )
    return (
        p.groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


_CURATION_V2_ORACLE = f"""
    SELECT s.doc_id, s.lang_pred, s.quality,
           CASE WHEN b.bucket < 80 THEN 'train'
                WHEN b.bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM ({_CURATION_ORACLE}) s
    JOIN ({_REPETITION_ORACLE}) r
      ON s.doc_id = r.doc_id AND r.verdict = 'ok'
    JOIN (SELECT doc_id, {PT.poly_hash('text', D)} % 100 AS bucket
          FROM documents) b
      ON s.doc_id = b.doc_id
    ORDER BY s.doc_id
    """


@register(
    "curation_pipeline_v2",
    oracle=_CURATION_V2_ORACLE,
    doc="the full training-data curation flow in one plan: quality "
    "scoring + language ID + exact dedup (curation_pipeline) "
    "intersected with the repetition filter (Gopher/C4 rules) and "
    "stamped with the content-hash train/val/test split — the "
    "composition a release pipeline actually runs. Every stage is the "
    "already-gated operator; composing them adds only broadcast-sized "
    "joins on doc_id, no new wide shuffle.",
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    surv = curation_pipeline(spark, sf_dir)
    ok = textstats_repetition(spark, sf_dir).filter(
        F.col("verdict") == "ok"
    ).select("doc_id")
    bucket = F.expr(PT.poly_hash("text", S)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    splits = _t(spark, sf_dir, "documents").select(
        "doc_id", split.alias("split")
    )
    return (
        surv.join(ok, "doc_id")
        .join(splits, "doc_id")
        .select("doc_id", "lang_pred", "quality", "split")
        .orderBy("doc_id")
    )


_FTS_WORD_ORACLE = """
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    docs2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
    stats AS (SELECT count(*) AS n_docs, CAST(avg(dl) AS DOUBLE) AS avgdl FROM docs2),
    hits AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM docs2
      ) WHERE term IN ('vector', 'merge', 'window')
      GROUP BY doc_id, dl, term
    ),
    dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             CAST(floor(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
               * CAST(h.tf AS DOUBLE) * 2.2
               / (CAST(h.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(h.dl AS DOUBLE) / s.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS micro
      FROM hits h JOIN dfs d ON h.term = d.term CROSS JOIN stats s
    )
    SELECT doc_id, count(*) AS n_terms_hit,
           CAST(sum(micro) AS DOUBLE) / 1000000.0 AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """


@register(
    "fts_bm25_word_tokens",
    oracle=_FTS_WORD_ORACLE,
    doc="BM25 with the interactive 'word' tokenizer (alnum runs — "
    "'complaint' matches 'complaint.'), the variant the CLI fts "
    "command uses; same plan shape as fts_bm25_search, both "
    "tokenizers oracle-gated.",
)
def fts_bm25_word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fts.bm25_topk(
        docs, "doc_id", "text", list(_FTS_TERMS), k=_FTS_K, tokenizer="word"
    )


@register(
    "ann_sq8_rescore_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    proxy AS (
      SELECT q.q_id, e.vec_id,
             {ann.sq8_adc_proxy_sql('e.embedding', 'q.q_vec', D)} AS p
      FROM embeddings e, q
    ),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY p DESC, vec_id) AS rn
        FROM proxy) t
      WHERE rn <= 50
    )
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pool.q_id, pool.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY pool.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         pool.vec_id) AS rank
      FROM pool
      JOIN embeddings e ON pool.vec_id = e.vec_id
      JOIN q ON pool.q_id = q.q_id) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """,
    doc="two-stage SQ8 retrieval (operators/ann.sq8_rescore_topk): "
    "stage 1 ranks by the ADC score — float query against the "
    "dequantized per-vector int8 tier (vmin, scale, codes), the "
    "4-8x-smaller stored representation at 100 TB — then stage 2 "
    "exact-rescores the per-query top-50 pool and returns the "
    "top-10. Identical double fold order on both engines makes the "
    "approximate pipeline deterministic and DuckDB-reproducible "
    "end to end.",
)
def ann_sq8_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ann.sq8_rescore_topk(e, queries, k=10, pool=50)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


def _bin_words(vec: str) -> list[str]:
    return ann.binary_code_words_sql(vec, 64, D)


_BIN_HAM = ann.binary_hamming_sql(
    [f"c.w{i}" for i in range(2)], [f"qc.w{i}" for i in range(2)], PT.DUCKDB
)


@register(
    "ann_binary_hamming_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id,
                 {_bin_words('embedding')[0]} AS w0,
                 {_bin_words('embedding')[1]} AS w1
          FROM embeddings),
    qc AS (SELECT q_id,
                  {_bin_words('q_vec')[0]} AS w0,
                  {_bin_words('q_vec')[1]} AS w1
           FROM q),
    proxy AS (
      SELECT qc.q_id, c.vec_id, {_BIN_HAM} AS ham
      FROM c, qc
    ),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rn
        FROM proxy) t
      WHERE rn <= 50
    )
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pool.q_id, pool.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY pool.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         pool.vec_id) AS rank
      FROM pool
      JOIN embeddings e ON pool.vec_id = e.vec_id
      JOIN q ON pool.q_id = q.q_id) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """,
    doc="two-stage binary (1-bit) retrieval "
    "(operators/ann.binary_hamming_topk): stage 1 ranks by symmetric "
    "Hamming distance between packed sign codes — XOR+popcount over "
    "BIGINT words, no float math, over an index 32x smaller than the "
    "float corpus (the faiss IndexBinaryFlat+refine / binary-MRL "
    "recipe) — stage 2 exact-rescores the per-query top-50 pool. "
    "Completes the quantized-retrieval ladder (binary 1-bit / SQ8 / "
    "PQ). Integer stage-1 scores and identical bit packing on both "
    "engines make the whole pipeline hash-gateable.",
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ann.binary_hamming_topk(e, queries, dim=64, k=10, pool=50)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


from ..operators.negatives import hash_rank_expr as _neg_rank  # noqa: E402


@register(
    "contrastive_negatives",
    oracle=f"""
    WITH a AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 5)
    SELECT q_id, vec_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT a.q_id, e.vec_id,
             row_number() OVER (PARTITION BY a.q_id
                                ORDER BY {_neg_rank('a.q_id', 'e.vec_id', 'duckdb')} DESC,
                                         e.vec_id) AS rank
      FROM embeddings e, a WHERE e.vec_id != a.q_id) t
    WHERE rank <= 8 ORDER BY q_id, rank
    """,
    doc="deterministic contrastive negative sampling "
    "(operators/negatives.py): 8 pseudo-random negatives per anchor "
    "ranked by a portable content hash of (anchor, candidate) — the "
    "same inputs always draw the same negatives across retries and "
    "partitionings, unlike rand(). Broadcast anchors + shuffle-free "
    "two-phase top-k; the corpus never shuffles.",
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.negatives import sample_negatives

    e = _t(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"))
    out = sample_negatives(anchors, e, k=8)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


def _pq_subdist_duck(a: str, c: str, s: int, dsub: int = 16) -> str:
    """DuckDB squared-L2 between subspace s of two vectors, folded in
    array order from 0.0 — bit-identical to the Spark side's literal
    term chain (0.0 + t1 == t1 for the non-negative squared terms)."""
    za = f"list_slice({a}, {s * dsub + 1}, {(s + 1) * dsub})"
    zc = f"list_slice({c}, {s * dsub + 1}, {(s + 1) * dsub})"
    diff = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    prods = f"list_transform(list_zip({za}, {zc}), p -> {diff} * {diff})"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {prods}),"
        f" (acc, x) -> acc + x)"
    )


_PQ_ADC_TERMS = " + ".join(
    f"({_pq_subdist_duck('q.q_vec', f'b{s}.c_vec', s)})" for s in range(4)
)
_PQ_ENC_DIST = "\n".join(
    f"         WHEN s.s = {s} THEN {_pq_subdist_duck('e.embedding', 'cb.c_vec', s)}"
    for s in range(4)
)


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH cb AS (SELECT vec_id AS j, embedding AS c_vec
                FROM embeddings WHERE vec_id < 8),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 5),
    enc_long AS (
      SELECT e.vec_id, s.s, cb.j,
             row_number() OVER (
               PARTITION BY e.vec_id, s.s
               ORDER BY CASE
{_PQ_ENC_DIST}
               END, cb.j) AS rn
      FROM embeddings e, (SELECT unnest(range(4)) AS s) s, cb
    ),
    enc AS (
      SELECT vec_id,
             MAX(CASE WHEN s = 0 THEN j END) AS c0,
             MAX(CASE WHEN s = 1 THEN j END) AS c1,
             MAX(CASE WHEN s = 2 THEN j END) AS c2,
             MAX(CASE WHEN s = 3 THEN j END) AS c3
      FROM enc_long WHERE rn = 1 GROUP BY vec_id
    ),
    adc AS (
      SELECT q.q_id, e.vec_id, ({_PQ_ADC_TERMS}) AS dist
      FROM enc e
      JOIN cb b0 ON b0.j = e.c0
      JOIN cb b1 ON b1.j = e.c1
      JOIN cb b2 ON b2.j = e.c2
      JOIN cb b3 ON b3.j = e.c3
      CROSS JOIN q
    ),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
        FROM adc) t
      WHERE rn <= 50
    )
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pool.q_id, pool.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY pool.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         pool.vec_id) AS rank
      FROM pool
      JOIN embeddings e ON pool.vec_id = e.vec_id
      JOIN q ON pool.q_id = q.q_id) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """,
    doc="two-stage PQ search (operators/pq.py): vectors encode as m=4 "
    "subspace codes against a deterministic 8-centroid codebook "
    "(64 B -> 4 B per vector at scale); stage 1 ranks by the ADC "
    "lookup distance over the codes alone, stage 2 exact-rescores the "
    "per-query top-50 pool. Codebook inlined as literals on the Spark "
    "side (map-side, shuffle-free) and derived via CTE in the oracle "
    "— identical fold-order double arithmetic keeps encode AND search "
    "hash-reproducible across engines.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    book = pq.pq_codebook(e, m=4, k_cb=8)
    out = pq.pq_adc_topk(e, queries, book, k=10, pool=50)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


# ---------------------------------------------------------------------------
# Trained (k-means) PQ codebook / IVF centroids — the faiss/pgvector
# convention (reference rag.py:83-85 trains IVFFLAT lists). Training is
# iterative and therefore not SQL-expressible, but it IS deterministic
# (fixed sample = first N by id, fixed init = first k sample rows,
# fixed iteration count), so the oracle is built DYNAMICALLY: a
# callable oracle trains the bit-identical book from the parquet via
# the shared numpy core (operators/pq.train_book_from_parquet) and
# inlines the centroids as literals — full hash gate, not rows-only.
# ---------------------------------------------------------------------------

_TRAIN = {"k_cb": 8, "sample_rows": 1024, "iters": 5}


def _pq_trained_oracle(sf_dir: str) -> str:
    from ..operators import pq

    book = pq.train_book_from_parquet(
        f"{sf_dir}/embeddings.parquet", m=4, **_TRAIN
    )
    enc_cols = ",\n             ".join(
        f"({pq.pq_code_sql('e.embedding', book, s, D)}) AS c{s}" for s in range(4)
    )
    adc = pq.pq_adc_sql("q.q_vec", [f"e.c{s}" for s in range(4)], book, D)
    return f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    enc AS (
      SELECT e.vec_id,
             {enc_cols}
      FROM embeddings e
    ),
    adc AS (
      SELECT q.q_id, e.vec_id, ({adc}) AS dist
      FROM enc e CROSS JOIN q
    ),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rn
        FROM adc) t
      WHERE rn <= 50
    )
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pool.q_id, pool.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY pool.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         pool.vec_id) AS rank
      FROM pool
      JOIN embeddings e ON pool.vec_id = e.vec_id
      JOIN q ON pool.q_id = q.q_id) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """


@register(
    "ann_pq_trained",
    oracle=_pq_trained_oracle,
    doc="PQ two-stage search with a k-means-TRAINED codebook (per-"
    "subspace Lloyd on a deterministic 256-row sample, 3 iterations) "
    "instead of the first-k convention — the faiss-style production "
    "default. The oracle trains the bit-identical book from the same "
    "parquet through the shared numpy core and inlines it as "
    "literals, so even the trained (iterative) index is hash-gated. "
    "Recall vs the first-k book is pytest-pinned (>=) in "
    "tests/test_scale_ops.py.",
)
def ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    book = pq.pq_train_codebook(e, m=4, **_TRAIN)
    out = pq.pq_adc_topk(e, queries, book, k=10, pool=50)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


def _ivf_trained_oracle(sf_dir: str) -> str:
    from ..operators import pq

    cents = pq.train_book_from_parquet(
        f"{sf_dir}/embeddings.parquet", m=1, **_TRAIN
    )[0]
    values = ",\n               ".join(
        f"({j}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for j, c in enumerate(cents)
    )
    return f"""
    WITH c AS (SELECT * FROM (VALUES {values}) t(centroid_id, c_vec)),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DOT_EC2} DESC, c.centroid_id) AS rn
        FROM embeddings e, c) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 5),
    qc AS (
      SELECT q_id, q_vec, centroid_id FROM (
        SELECT q.q_id, q.q_vec, c.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_DOT_QC2} DESC, c.centroid_id) AS rn
        FROM q, c) t WHERE rn <= 2
    ),
    cand AS (
      SELECT qc.q_id, e.vec_id, {_DOT_EQ2} AS similarity
      FROM embeddings e
      JOIN assign a ON e.vec_id = a.vec_id
      JOIN qc ON a.centroid_id = qc.centroid_id
    )
    SELECT q_id, vec_id, similarity, CAST(rn AS BIGINT) AS rank FROM (
      SELECT q_id, vec_id, similarity,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY similarity DESC, vec_id) AS rn
      FROM cand) t
    WHERE rn <= 10 ORDER BY q_id, rank
    """


@register(
    "ann_ivf_trained_topk",
    oracle=_ivf_trained_oracle,
    doc="IVF top-k with k-means-TRAINED coarse centroids (full-vector "
    "Lloyd = the m=1 degenerate of the PQ trainer) instead of the "
    "first-8 convention — matching pgvector's trained IVFFLAT lists "
    "(reference rag.py:83-85). Same probe plan as ann_ivf_topk; the "
    "callable oracle inlines the trained centroids as VALUES literals.",
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq

    e = _t(spark, sf_dir, "embeddings")
    cents = pq.pq_train_codebook(e, m=1, **_TRAIN)[0]
    centroids = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "centroid_id bigint, c_vec array<double>",
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assigned = ann.ivf_assign(e, centroids)
    out = ann.ivf_topk(assigned, centroids, queries, k=10, probes=2)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


_SEM_TAU = 0.42


def _semdedup_oracle(sf_dir: str) -> str:
    from ..operators import pq

    cents = pq.train_book_from_parquet(
        f"{sf_dir}/embeddings.parquet", m=1, **_TRAIN
    )[0]
    values = ",\n               ".join(
        f"(CAST({j} AS BIGINT), CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for j, c in enumerate(cents)
    )
    dot_xy = PT.dot_double("ex.embedding", "ey.embedding", D)
    return f"""
    WITH c AS (SELECT * FROM (VALUES {values}) t(centroid_id, c_vec)),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DOT_EC2} DESC, c.centroid_id) AS rn
        FROM embeddings e, c) t WHERE rn = 1
    ),
    per AS (
      SELECT ax.vec_id, ax.centroid_id, max({dot_xy}) AS max_prior_cos
      FROM assign ax
      JOIN assign ay ON ax.centroid_id = ay.centroid_id
                    AND ay.vec_id < ax.vec_id
      JOIN embeddings ex ON ex.vec_id = ax.vec_id
      JOIN embeddings ey ON ey.vec_id = ay.vec_id
      GROUP BY ax.vec_id, ax.centroid_id
    )
    SELECT a.vec_id, a.centroid_id, p.max_prior_cos,
           coalesce(p.max_prior_cos >= {_SEM_TAU}, false) AS is_dup
    FROM assign a LEFT JOIN per p ON a.vec_id = p.vec_id
    ORDER BY a.vec_id
    """


@register(
    "dedup_semantic_clusters",
    oracle=_semdedup_oracle,
    doc="SemDeDup (Abbas et al. 2023): semantic dedup bounded by "
    "k-means clusters — assign every embedding to its trained "
    "centroid (the shuffle-free broadcast argmax the IVF family "
    "gates), then flag points whose cosine to any lower-id "
    "clustermate reaches the threshold. The pairwise stage exists "
    "only WITHIN clusters (sum c_i^2, never corpus all-pairs; the "
    "paper's contract is k grows with n so clusters stay bounded). "
    "max() over pair cosines is exactly order-independent, so even "
    "the trained + iterative pipeline is value-hash-gated end to end "
    "(operators/dedup.py semdedup_flags).",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq

    e = _t(spark, sf_dir, "embeddings")
    cents = pq.pq_train_codebook(e, m=1, **_TRAIN)[0]
    centroids = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "centroid_id bigint, c_vec array<double>",
    )
    assigned = ann.ivf_assign(e, centroids)
    return dedup.semdedup_flags(assigned, _SEM_TAU).orderBy("vec_id")


_SPAN_K = 8
_SPAN_TOKS = PT.tokens("coalesce(text, '')", D)
_SPAN_FRAC = PT.round6(
    "CAST(coalesce(covered_tokens, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)", D
)


@register(
    "dedup_duplicate_spans",
    bench=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SPAN_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 {PT.hash_array('toks', D)} AS th FROM t),
    gr AS (SELECT doc_id, n_tokens,
                  {PT.word_ngram_hashes('th', _SPAN_K, D)} AS grams FROM h),
    g AS (SELECT doc_id, i AS pos, grams[i + 1] AS gram_hash
          FROM gr, unnest(range(len(grams))) AS u(i)),
    dup AS (SELECT gram_hash FROM g GROUP BY gram_hash HAVING count(*) >= 2),
    contrib AS (
      SELECT doc_id, pos,
             max(pos + {_SPAN_K}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM g JOIN dup USING (gram_hash)),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
             CAST(sum(greatest(0, pos + {_SPAN_K}
                               - greatest(coalesce(prev_end, pos), pos)))
                  AS BIGINT) AS covered_tokens
      FROM contrib GROUP BY doc_id)
    SELECT gr.doc_id, gr.n_tokens,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           coalesce(covered_tokens, 0) AS covered_tokens,
           CASE WHEN gr.n_tokens = 0 THEN 0.0
                ELSE {_SPAN_FRAC} END AS dup_fraction
    FROM gr LEFT JOIN per_doc USING (doc_id) ORDER BY doc_id
    """,
    doc="duplicated-span accounting, the exact-substring dedup signal "
    "of Lee et al. 2022 (dedup.duplicate_spans): every 8-token window "
    "occurring 2+ times anywhere in the corpus marks its span; "
    "overlapping spans merge via the prev-max-end island increment "
    "inside a per-document window; each doc reports covered tokens "
    "and fraction. The suffix array of the paper becomes rolling "
    "gram hashes: one shuffle on the uniform 8-byte gram key, text "
    "never shuffles, every document survives to the output.",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, "doc_id", "text", k=_SPAN_K).orderBy(
        "doc_id"
    )


_MRL_P = 16


@register(
    "ann_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    proxy AS (
      SELECT q.q_id, e.vec_id,
             {PT.dot_double(PT.slice_('e.embedding', '1', _MRL_P, D), PT.slice_('q.q_vec', '1', _MRL_P, D), D)} AS p
      FROM embeddings e, q
    ),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY p DESC, vec_id) AS rn
        FROM proxy) t
      WHERE rn <= 50
    )
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pool.q_id, pool.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY pool.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         pool.vec_id) AS rank
      FROM pool
      JOIN embeddings e ON pool.vec_id = e.vec_id
      JOIN q ON pool.q_id = q.q_id) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """,
    doc="two-stage Matryoshka retrieval "
    "(operators/ann.matryoshka_rescore_topk): stage 1 ranks by the "
    "exact dot over only the first 16 of 64 dims (the MRL "
    "adaptive-retrieval recipe — the stored prefix tier is 1/4 the "
    "float bytes), stage 2 exact-rescores the per-query top-50 pool "
    "on full vectors. Fourth rung of the quantized/truncated "
    "retrieval ladder (matryoshka / binary / SQ8 / PQ), all ending "
    "in the same deterministic rescore.",
)
def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ann.matryoshka_rescore_topk(e, queries, prefix_dim=_MRL_P, k=10, pool=50)
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
               FROM embeddings WHERE vec_id < 5)
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT q.q_id, e.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         e.vec_id) AS rank
      FROM embeddings e, q
      WHERE e.label IS DISTINCT FROM q.q_label) t
    WHERE rank <= 8 ORDER BY q_id, rank
    """,
    doc="hard-negative mining, the contrastive-training staple "
    "(SimCSE/DPR recipes): for each anchor, the MOST SIMILAR corpus "
    "vectors with a DIFFERENT label — the negatives that actually "
    "move the loss, vs contrastive_negatives' uniform draws. "
    "Broadcast anchors carry (vec, label); the label inequality is a "
    "map-side filter before scoring (null-safe: unlabeled rows count "
    "as different), then the shuffle-free two-phase top-k. The "
    "corpus never shuffles.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    scored = (
        e.crossJoin(F.broadcast(anchors))
        .filter(~F.col("label").eqNullSafe(F.col("q_label")))
        .withColumn(
            "similarity",
            F.expr(PT.dot_double("embedding", "q_vec", S)),
        )
    )
    out = ann._two_phase_topk(scored, 8, "q_id", "vec_id")
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


@register(
    "dedup_cluster_keep_best",
    oracle=_CC_ORACLE.format(pairs=_MINHASH_ORACLE.replace("LIMIT 20", "")).replace(
        """    labels AS (SELECT vertex, min(label) AS label FROM reach GROUP BY vertex)
    SELECT label AS cluster_id, count(*) AS n_members,
           min(vertex) AS min_doc, max(vertex) AS max_doc
    FROM labels GROUP BY label ORDER BY cluster_id
    """,
        """    labels AS (SELECT vertex, min(label) AS label FROM reach GROUP BY vertex),
    scored AS (
      SELECT l.vertex, l.label,
             CAST(length(coalesce(d.text, '')) AS BIGINT) AS score
      FROM labels l JOIN documents d ON d.doc_id = l.vertex)
    SELECT label AS cluster_id,
           CAST(max(struct_pack(s := score, negid := -vertex)).negid * -1
                AS BIGINT) AS keep_id,
           max(struct_pack(s := score, negid := -vertex)).s AS keep_score,
           count(*) AS n_members
    FROM scored GROUP BY label ORDER BY cluster_id
    """,
    ),
    doc="keeper-policy dedup (dedup.cluster_keep_best): the same "
    "MinHash-LSH -> connected-components clusters as "
    "dedup_cluster_components, but each cluster keeps its "
    "LONGEST member (the most complete version, ties -> min id) "
    "instead of the arbitrary min-id — the policy real curation "
    "wants. Selection is a struct-max aggregate: one shuffle on the "
    "cluster label, no window, deterministic under any partitioning.",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.with_minhash(docs, "text", "doc_id", n_hashes=32, shingle_words=3)
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", n_hashes=32, bands=16, max_bucket_size=1000
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = graph.connected_components(pairs)
    scored = docs.select(
        "doc_id",
        F.length(F.coalesce("text", F.lit(""))).cast("bigint").alias("score"),
    )
    return dedup.cluster_keep_best(scored, labels, "doc_id", "score").orderBy(
        "cluster_id"
    )


_IVFB_HAM = ann.binary_hamming_sql(
    [f"eb.w{i}" for i in range(2)], [f"qb.w{i}" for i in range(2)], PT.DUCKDB
)


_IVFB_ORACLE = f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding AS c_vec
               FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DOT_EC2} DESC, c.centroid_id) AS rn
        FROM embeddings e, c) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec
          FROM embeddings WHERE vec_id < 5),
    qc AS (
      SELECT q_id, q_vec, centroid_id FROM (
        SELECT q.q_id, q.q_vec, c.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {_DOT_QC2} DESC, c.centroid_id) AS rn
        FROM q, c) t WHERE rn <= 2
    ),
    eb AS (SELECT e.vec_id, a.centroid_id,
                  {_bin_words('e.embedding')[0]} AS w0,
                  {_bin_words('e.embedding')[1]} AS w1
           FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id),
    qb AS (SELECT q_id, centroid_id,
                  {_bin_words('q_vec')[0]} AS w0,
                  {_bin_words('q_vec')[1]} AS w1
           FROM qc),
    pool AS (
      SELECT q_id, vec_id FROM (
        SELECT qb.q_id, eb.vec_id,
               row_number() OVER (PARTITION BY qb.q_id
                                  ORDER BY {_IVFB_HAM}, eb.vec_id) AS rn
        FROM eb JOIN qb ON eb.centroid_id = qb.centroid_id) t
      WHERE rn <= 30
    )
    SELECT q_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pool.q_id, pool.vec_id,
             {PT.dot_double('e.embedding', 'q.q_vec', D)} AS similarity,
             row_number() OVER (PARTITION BY pool.q_id
                                ORDER BY {PT.dot_double('e.embedding', 'q.q_vec', D)} DESC,
                                         pool.vec_id) AS rank
      FROM pool
      JOIN embeddings e ON pool.vec_id = e.vec_id
      JOIN q ON pool.q_id = q.q_id) t
    WHERE rank <= 10 ORDER BY q_id, rank
    """


@register(
    "ann_ivf_binary_topk",
    bench=True,
    oracle=_IVFB_ORACLE,
    doc="three-stage hybrid retrieval (ann.ivf_binary_topk), the "
    "production faiss IndexIVF+binary/refine composition: coarse "
    "quantizer probes 2 of 8 cells (touching ~1/4 of the corpus), "
    "the fine scan inside probed cells is XOR+popcount Hamming over "
    "the packed sign tier (dim/8 bytes stored per vector — no float "
    "reads until the last stage), the per-query top-30 pool gets the "
    "exact rescore. Deterministic at every stage, so even the doubly "
    "approximate pipeline is value-hash-gated.",
)
def ann_ivf_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assigned = ann.ivf_assign(e, centroids)
    out = ann.ivf_binary_topk(
        assigned, centroids, queries, dim=64, k=10, probes=2, pool=30
    )
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


@register(
    "ann_ivf_binary_stored",
    oracle=_IVFB_ORACLE,
    doc="stored-tier verification for the IVF x binary hybrid "
    "(faithful-rewrite convention of layout_zordered_scan): the "
    "packed sign tier is WRITTEN cell-partitioned "
    "(ann.write_binary_tier — vec_id + two BIGINT words per vector, "
    "dim/8 bytes, NO float column in the table), read back, and "
    "searched through ann.ivf_binary_topk_from_tier; the oracle is "
    "the in-plan ann_ivf_binary_topk SQL, so a green row proves the "
    "persisted tier is bit-faithful to the on-the-fly packing. The "
    "fine scan physically cannot read floats (the tier stores none); "
    "tests/test_ann_tier.py asserts the tier scan's ReadSchema and "
    "the unprobed-cell partition pruning from the plan.",
)
def ann_ivf_binary_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assigned = ann.ivf_assign(e, centroids)
    # pid-suffixed store path (layout_zordered_scan convention) so a
    # concurrent driver + oracle_check never interleave overwrite/scan
    tag = f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}_{os.getpid()}"
    store = os.path.join(
        tempfile.gettempdir(), f"spark_graft_btier_{tag}", "embeddings_b64"
    )
    ann.write_binary_tier(assigned, store, dim=64)
    tier = ann.read_binary_tier(spark, store)
    out = ann.ivf_binary_topk_from_tier(
        tier,
        e.select("vec_id", "embedding"),
        centroids,
        queries,
        dim=64,
        k=10,
        probes=2,
        pool=30,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


_SPANS_INC_SEQ = iter(range(1_000_000))


@register(
    "dedup_spans_incremental",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SPAN_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 {PT.hash_array('toks', D)} AS th FROM t),
    gr AS (SELECT doc_id, n_tokens,
                  {PT.word_ngram_hashes('th', _SPAN_K, D)} AS grams FROM h),
    g AS (SELECT doc_id, i AS pos, grams[i + 1] AS gram_hash
          FROM gr, unnest(range(len(grams))) AS u(i)),
    dup AS (SELECT gram_hash FROM g GROUP BY gram_hash HAVING count(*) >= 2),
    contrib AS (
      SELECT doc_id, pos,
             max(pos + {_SPAN_K}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM g JOIN dup USING (gram_hash) WHERE doc_id >= 250),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
             CAST(sum(greatest(0, pos + {_SPAN_K}
                               - greatest(coalesce(prev_end, pos), pos)))
                  AS BIGINT) AS covered_tokens
      FROM contrib GROUP BY doc_id)
    SELECT gr.doc_id, gr.n_tokens,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           coalesce(covered_tokens, 0) AS covered_tokens,
           CASE WHEN gr.n_tokens = 0 THEN 0.0
                ELSE {_SPAN_FRAC} END AS dup_fraction
    FROM gr LEFT JOIN per_doc USING (doc_id)
    WHERE gr.doc_id >= 250 ORDER BY gr.doc_id
    """,
    doc="incremental exact-substring dedup through the STANDING gram "
    "artifact (dedup.write_gram_artifact — the written table "
    "duplicate_spans' docstring promises): the standing corpus "
    "(doc_id < 250) is appended to the artifact once, the new batch "
    "(doc_id >= 250) is appended as its own increment, and the probe "
    "(dedup.duplicate_spans_from_artifact) computes whole-corpus "
    "window occurrence counts and batch-doc span accounting reading "
    "ONLY parquet gram hashes — no text is rescanned, no gram "
    "recomputed, appending IS the update (the lsh_band_index "
    "convention). The oracle recomputes from raw text, so a green "
    "row proves the artifact round-trip is faithful; "
    "tests/test_pretrain_ops.py asserts the probe plan scans nothing "
    "but the artifact.",
)
def dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_SPANS_INC_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_grams_{tag}")
    dedup.write_gram_artifact(
        docs.filter(F.col("doc_id") < 250), store, k=_SPAN_K, mode="overwrite"
    )
    dedup.write_gram_artifact(
        docs.filter(F.col("doc_id") >= 250), store, k=_SPAN_K, mode="append"
    )
    return dedup.duplicate_spans_from_artifact(
        spark, store, k=_SPAN_K, probe_ids=F.col("doc_id") >= 250
    ).orderBy("doc_id")


_BLOOM_K = 4
_BLOOM_WORDS = 64


def _bloom_oracle() -> str:
    from ..operators.sketches import BLOOM_BITS_PER_WORD, bloom_pos_exprs_sql

    bpw = BLOOM_BITS_PER_WORD
    toks = PT.tokens("coalesce(text, '')", D)
    arms = bloom_pos_exprs_sql("gh", _BLOOM_K, _BLOOM_WORDS)
    build_arms = " UNION ALL ".join(
        f"SELECT ({a}) AS pos FROM bg" for a in arms
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT doc_id, gh, ({a}) AS pos FROM cg" for a in arms
    )
    mask = f"(CAST(1 AS BIGINT) << CAST(pos % {bpw} AS INT))"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    h AS (SELECT doc_id, {PT.hash_array('toks', D)} AS th FROM t),
    cg AS (SELECT DISTINCT doc_id, unnest({PT.word_ngram_hashes('th', 3, D)}) AS gh
           FROM h),
    bg AS (SELECT DISTINCT gh FROM cg WHERE doc_id % 97 = 0),
    bpos AS ({build_arms}),
    bloom AS (SELECT pos // {bpw} AS word_idx,
                     bit_or({mask}) AS word
              FROM bpos GROUP BY 1),
    ppos AS ({probe_arms}),
    chk AS (
      SELECT doc_id, gh,
             bool_and((coalesce(word, 0) & {mask}) = {mask}) AS hit
      FROM ppos LEFT JOIN bloom ON (pos // {bpw}) = word_idx
      GROUP BY doc_id, gh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           {PT.round6('sum(CASE WHEN hit THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)', D)}
             AS flagged_fraction
    FROM chk GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "decontamination_bloom",
    oracle=_bloom_oracle(),
    doc="Bloom-filter decontamination probe (sketches.bloom_build/"
    "bloom_probe), the broadcastable complement of "
    "decontamination_overlap's exact gram join: the benchmark set's "
    "distinct 3-gram hashes compress to a k=4 x 4032-bit bitmap "
    "(merge across benchmark batches = bit_or), and every corpus "
    "document counts how many of its grams the bitmap flags — "
    "map-side probe, the 100 TB side never shuffles for the match. "
    "No false negatives (every true benchmark gram hits); false "
    "positives land at deterministic portable-hash positions, so "
    "even the error is value-hash-gated. 63 usable bits per word "
    "(DuckDB raises on 1<<63; the portable mask family stops at 62).",
)
def decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    docs = _t(spark, sf_dir, "documents")
    toks = PT.tokens("coalesce(text, '')", S)
    th = PT.hash_array("_toks", S)
    gr = PT.word_ngram_hashes("_th", 3, S)
    cg = (
        docs.select("doc_id", F.expr(toks).alias("_toks"))
        .select("doc_id", F.expr(th).alias("_th"))
        .select("doc_id", F.explode(F.expr(gr)).alias("gh"))
        .distinct()
    )
    bench = cg.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    bloom = sketches.bloom_build(bench, "gh", k=_BLOOM_K, m_words=_BLOOM_WORDS)
    flagged = sketches.bloom_probe(
        bloom, cg, "gh", k=_BLOOM_K, m_words=_BLOOM_WORDS
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.col("might_contain").cast("bigint"))
            .cast("bigint")
            .alias("n_flagged"),
            F.expr(
                PT.round6(
                    "sum(CAST(might_contain AS BIGINT)) / CAST(count(*) AS DOUBLE)",
                    S,
                )
            ).alias("flagged_fraction"),
        )
        .orderBy("doc_id")
    )


_PQ_STORED_SEQ = iter(range(1_000_000))


@register(
    "ann_pq_stored",
    oracle=_pq_trained_oracle,
    doc="stored-code verification for the trained-PQ search (the "
    "write_pq_codes side of the stored-tier pair, same faithful-"
    "rewrite convention as ann_ivf_binary_stored): the trained "
    "codebook encodes the corpus ONCE, the m-byte code table is "
    "written to parquet (no float column stored), and the ADC stage "
    "of pq_adc_topk_from_codes scans only the stored codes until the "
    "exact rescore joins back to the float table. Oracle = the "
    "in-plan ann_pq_trained SQL, so a green row proves the persisted "
    "codes reproduce the on-the-fly encoding bit-for-bit; "
    "tests/test_ann_tier.py asserts the code table stores no floats "
    "and the stored search equals the in-plan search.",
)
def ann_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import ann as _ann, pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    book = pq.pq_train_codebook(e, m=4, **_TRAIN)
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_PQ_STORED_SEQ)}"
    )
    store = os.path.join(
        tempfile.gettempdir(), f"spark_graft_pqcodes_{tag}", "embeddings_pq"
    )
    _ann.write_pq_codes(e, book, store)
    codes = _ann.read_pq_codes(spark, store)
    out = _ann.pq_adc_topk_from_codes(
        codes, e.select("vec_id", "embedding"), queries, book, k=10, pool=50
    )
    return out.withColumn("rank", F.col("rank").cast("bigint")).orderBy("q_id", "rank")


_PPJ_T = 0.4


@register(
    "dedup_prefix_jaccard",
    bench=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, unnest({PT.word_ngrams('toks', 3, D)}) AS gram
          FROM t),
    s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
           {PT.round6('CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)', D)}
             AS jaccard
    FROM inter
    JOIN s sa ON sa.doc_id = id_a
    JOIN s sb ON sb.doc_id = id_b
    WHERE {PT.round6('CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)', D)}
            >= {_PPJ_T}
    ORDER BY jaccard DESC, id_a, id_b
    """,
    doc="EXACT set-similarity self-join via prefix filtering "
    "(dedup.prefix_filtered_jaccard_pairs — the PPJoin/AllPairs "
    "discipline, the third pair-generation strategy beside LSH "
    "banding and the df-capped inverted index): documents' gram sets "
    "sort by global rarity and only the first (1-t)|d|+1 grams join "
    "— complete candidate recall by pigeonhole, with the shuffle "
    "carrying ~(1-t) of the index volume concentrated on RARE grams; "
    "candidates verify by exact array intersection. The oracle is "
    "the brute-force exact join, so any recall loss in the filter "
    "fails the hash gate outright.",
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.prefix_filtered_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=_PPJ_T
    )
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b")


@register(
    "fts_conjunctive_search",
    bench=True,
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    hits AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM base
      ) WHERE term IN ('merge', 'vector', 'window')
      GROUP BY doc_id, term
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
    FROM hits GROUP BY doc_id HAVING count(*) = 3
    ORDER BY total_tf DESC, doc_id LIMIT 50
    """,
    doc="boolean-AND keyword search (fts.conjunctive_search): "
    "documents containing ALL query terms, ranked by total tf — the "
    "posting-intersection access path beside BM25's ranked union "
    "(reference analog: the AND semantics of Postgres "
    "to_tsquery('a & b'), rag.py FTS note). The intersection is "
    "count-of-matched-terms == n_terms after a map-side IN prune — "
    "never an n-way posting self-join — so shuffle volume is "
    "(matching docs x query terms) regardless of corpus size and "
    "every added term makes the plan STRICTLY cheaper.",
)
def fts_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fts.conjunctive_search(
        docs, "doc_id", "text", ["vector", "merge", "window"], k=50
    )


def _mmr_oracle(sf_dir: str) -> str:
    """Python twin: same pool, same left-fold double dots, same
    micro-quantization, same integer lambda blend, same id tiebreak —
    emitted as VALUES (the kcore/bpe convention for sequential
    algorithms)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}
    q = vecs[0]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + float(x) * float(y)
        return s

    def micro(x):
        import math

        return int(math.floor(x * 1_000_000.0 + 0.5))

    rel = {i: micro(dot(v, q)) for i, v in vecs.items()}
    pool = sorted(vecs, key=lambda i: (-rel[i], i))[:30]
    max_sim = {i: 0 for i in pool}
    picked = []
    remaining = list(pool)
    for rank in range(1, 9):
        best = max(
            remaining, key=lambda i: (7 * rel[i] - 3 * max_sim[i], -i)
        )
        picked.append((rank, best, 7 * rel[best] - 3 * max_sim[best]))
        remaining.remove(best)
        for i in remaining:
            max_sim[i] = max(max_sim[i], micro(dot(vecs[i], vecs[best])))
    vals = ", ".join(f"({r}, {i}, {s})" for r, i, s in picked)
    return (
        f"SELECT CAST(rank AS BIGINT) AS rank, "
        f"CAST(vec_id AS BIGINT) AS vec_id, "
        f"CAST(mmr_micro AS BIGINT) AS mmr_micro "
        f"FROM (VALUES {vals}) AS t(rank, vec_id, mmr_micro) ORDER BY rank"
    )


@register(
    "mmr_diverse_selection",
    oracle=_mmr_oracle,
    doc="Maximal Marginal Relevance diverse selection "
    "(rerank.mmr_select): top-30 retrieval pool for query vector 0, "
    "then 8 greedy picks maximizing 7*rel - 3*max_sim_to_selected in "
    "EXACT micro-integer arithmetic (left-fold double dots, "
    "FLOOR(x*1e6+0.5), ascending-id ties) — the diversity-aware "
    "sampler RAG context builders and dataset curators run after "
    "retrieval. Sequential by nature, so it runs on the POOL (the "
    "bounded two-phase top-N output), one Spark pass + 1-row argmax "
    "per step — the bpe driver-loop convention; the oracle is a "
    "bit-exact pure-Python twin emitted as VALUES.",
)
def mmr_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rerank

    e = _t(spark, sf_dir, "embeddings")
    q_vec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    dot_q = (
        "aggregate(zip_with(embedding, _qv, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )
    pool = (
        e.withColumn("_qv", F.array(*[F.lit(x) for x in q_vec]))
        .withColumn(
            "_rel",
            F.expr(
                f"CAST(FLOOR(({dot_q}) * 1000000.0 + 0.5) AS BIGINT)"
            ),
        )
        .orderBy(F.desc("_rel"), F.asc("vec_id"))
        .limit(30)
        .select("vec_id", "embedding")
    )
    picked = rerank.mmr_select(pool, q_vec, k=8)
    return spark.createDataFrame(
        picked, "rank: bigint, vec_id: bigint, mmr_micro: bigint"
    ).orderBy("rank")


@register(
    "context_budget_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % 4 AS pool_id,
             len({PT.tokens('text', D)}) AS n_tokens,
             len(text) AS n_chars
      FROM documents
    ), ranked AS (
      SELECT pool_id, doc_id, n_tokens,
             row_number() OVER w AS rnk,
             SUM(n_tokens) OVER (PARTITION BY pool_id
                                 ORDER BY n_chars DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t WINDOW w AS (PARTITION BY pool_id
                          ORDER BY n_chars DESC, doc_id)
    )
    SELECT CAST(pool_id AS BIGINT) AS pool_id, CAST(rnk AS BIGINT) AS rank,
           doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens <= 2000 ORDER BY pool_id, rank
    """,
    doc="budget-constrained context assembly (the RAG step between "
    "retrieve/rerank and the prompt): per retrieval POOL, candidates "
    "ranked by a deterministic score (char length as the stand-in "
    "relevance, doc_id ties) are admitted greedily while the "
    "CUMULATIVE token count stays under the context budget — a "
    "running-sum window + filter, not a driver loop. The window "
    "PARTITIONS BY the pool key (four synthetic pools here; the "
    "query id in production), so a million pools pack in parallel "
    "and no reducer ever sees more than one pool's candidates — the "
    "global-window form of this query is the single-reducer "
    "scale-killer this formulation exists to avoid. Integer token "
    "counts make the cutoff exact; prefix-sum-then-filter is the "
    "sequential greedy knapsack linearized into one window pass.",
)
def context_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("bigint").alias("pool_id"),
        F.size(F.expr(PT.tokens("text", PT.SPARK))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("pool_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    w_sum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = t.select(
        "pool_id",
        "doc_id",
        "n_tokens",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.sum("n_tokens").over(w_sum).cast("bigint").alias("cum_tokens"),
    )
    return (
        ranked.filter(F.col("cum_tokens") <= 2000)
        .select("pool_id", "rank", "doc_id", "n_tokens", "cum_tokens")
        .orderBy("pool_id", "rank")
    )


@register(
    "dedup_threshold_calibration",
    oracle=f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, unnest({PT.word_ngrams('toks', 3, D)}) AS gram
          FROM t),
    s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), j AS (
      SELECT {PT.round6('CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)', D)}
               AS jac
      FROM inter
      JOIN s sa ON sa.doc_id = id_a
      JOIN s sb ON sb.doc_id = id_b
    )
    SELECT CAST(floor(jac * 10.0) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM j WHERE jac >= 0.2
    GROUP BY band ORDER BY band
    """,
    doc="near-dup threshold calibration: the exact Jaccard "
    "distribution of candidate pairs above 0.2, banded by deciles -- "
    "the histogram a curator reads to place the dedup cutoff at a "
    "density gap rather than folklore (0.8 vs 0.85 changes corpus "
    "yield by whatever these counts say). Pairs come from the PPJoin "
    "prefix filter at the LOWER calibration threshold (larger "
    "prefixes than the production cutoff -- the honest cost of "
    "surveying below it, still bounded by (1-t)|d|+1, never "
    "all-pairs); the oracle is the brute-force join, so complete "
    "recall at the survey threshold is part of what the hash pins.",
)
def dedup_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.prefix_filtered_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.2
    )
    return (
        pairs.select(
            F.expr("CAST(floor(jaccard * 10.0) AS BIGINT)").alias("band")
        )
        .groupBy("band")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("band")
    )


def _spectrum_oracle(sf_dir: str) -> str:
    """Python-twin oracle (the kcore/bpe VALUES convention): replay
    the identical milli-quantization, exact integer scatter matrix,
    and eigensolve over the same parquet — independent data path
    (duckdb fetch + numpy loops), same exact-arithmetic contract."""
    import duckdb
    import numpy as np

    from ..operators.linalg import VEC_SCALE, covariance_spectrum_py

    con = duckdb.connect()
    rows = con.execute(
        "SELECT embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') "
        "WHERE embedding IS NOT NULL"
    ).fetchall()
    con.close()
    dim = 64
    q = np.floor(
        np.asarray([r[0] for r in rows], dtype=np.float64)
        * float(VEC_SCALE)
        + 0.5
    ).astype(np.int64)
    gram = q.T @ q
    mom = q.sum(axis=0)
    cells = [
        (i, j, int(gram[i, j])) for i in range(dim) for j in range(dim)
    ]
    cells += [(dim, j, int(mom[j])) for j in range(dim)]
    cells += [(dim, dim, q.shape[0])]
    spec = covariance_spectrum_py(cells, dim, top_k=8)
    vals = ", ".join(f"({c}, {v})" for c, v in spec)
    return (
        f"SELECT CAST(component AS BIGINT) AS component, "
        f"CAST(var_micro AS BIGINT) AS var_micro "
        f"FROM (VALUES {vals}) AS t(component, var_micro) "
        f"ORDER BY component"
    )


@register(
    "embedding_covariance_spectrum",
    oracle=_spectrum_oracle,
    doc="top-8 eigenvalues of the embedding covariance (exact-"
    "integer PCA spectrum, operators/linalg.py) — the effective-"
    "dimensionality diagnostic a pipeline runs before choosing an "
    "index or a Matryoshka truncation tier (how many components "
    "carry the variance?).  Components quantize to milli-units, "
    "each Arrow batch contributes an exact int64 partial Gram "
    "(numpy integer matmul — no float summation order anywhere), "
    "one (i,j) shuffle folds the d^2+d+1 partial cells, and the "
    "driver assembles the exact scatter matrix n*G - s*s^T in "
    "arbitrary-precision ints before ONE float64 eigensolve — the "
    "corpus is read once, the collect is KB-scale (the classifier-"
    "training split generalized to dense vectors).  Identical Gram "
    "under any partitioning => identical spectrum; the oracle twin "
    "replays quantization+Gram+eigh over a duckdb fetch of the "
    "same parquet.",
)
def embedding_covariance_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.linalg import covariance_spectrum_py, gram_moments

    dim = 64
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    cells = [
        (int(r.i), int(r.j), int(r.v))
        for r in gram_moments(emb, "embedding", dim).collect()
    ]
    spec = covariance_spectrum_py(cells, dim, top_k=8)
    return spark.createDataFrame(
        [(int(c), int(v)) for c, v in spec],
        "component long, var_micro long",
    ).orderBy("component")


@register(
    "gopher_repetition_signals",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {PT.tokens('text', PT.DUCKDB)} AS toks
      FROM documents),
    n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
    b AS (SELECT doc_id, unnest({PT.word_ngrams('toks', 2, PT.DUCKDB)})
            AS g FROM t),
    bc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
           FROM b GROUP BY 1, 2),
    btop AS (
      SELECT doc_id, g AS top_bigram, c AS top_count
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY c DESC, g DESC) AS rn FROM bc)
      WHERE rn = 1),
    f AS (SELECT doc_id, unnest({PT.word_ngrams('toks', 5, PT.DUCKDB)})
            AS g FROM t),
    fc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
           FROM f GROUP BY 1, 2),
    fs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total5,
                  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                    AS dup5
           FROM fc GROUP BY 1)
    SELECT n.doc_id, n.n_tokens, btop.top_bigram, btop.top_count,
           (btop.top_count * 2 * 1000000) // n.n_tokens
             AS top2_token_frac_micro,
           CASE WHEN coalesce(fs.total5, 0) > 0
                THEN (fs.dup5 * 1000000) // fs.total5
                ELSE CAST(0 AS BIGINT) END AS dup5_frac_micro
    FROM n
    JOIN btop ON btop.doc_id = n.doc_id
    LEFT JOIN fs ON fs.doc_id = n.doc_id
    ORDER BY dup5_frac_micro DESC, n.doc_id LIMIT 25
    """,
    doc="the Gopher-family repetition signals (Rae et al. 2021 "
    "quality heuristics, token-fraction variants): per document, "
    "the fraction of tokens covered by the single most frequent "
    "word bigram (catches phrase loops) and the fraction of "
    "word-5-gram instances that are duplicates within the document "
    "(catches long-range template repetition; the corpus ships no "
    "newlines, so the duplicate-LINE form is degenerate here and "
    "the n-gram forms carry the signal). Exact integer counts and "
    "integer-division micros end-to-end — no floats at all; ties "
    "on the top bigram break (count DESC, gram DESC) identically "
    "in both engines; top-25 most repetitive docs via "
    "TakeOrderedAndProject. Complements compression_ratio (zlib "
    "proxy) and boilerplate_segment_removal (cross-doc lines) in "
    "the quality family.",
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = barrier(
        docs.select(
            "doc_id", F.expr(PT.tokens("text", S)).alias("toks")
        )
    ).localCheckpoint(eager=True)
    n = t.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    bc = (
        t.select(
            "doc_id",
            F.explode(F.expr(PT.word_ngrams("toks", 2, S))).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.desc("g"))
    btop = (
        bc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("g").alias("top_bigram"),
            F.col("c").alias("top_count"),
        )
    )
    fs = (
        t.select(
            "doc_id",
            F.explode(F.expr(PT.word_ngrams("toks", 5, S))).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("total5"),
            F.sum(F.expr("CASE WHEN c >= 2 THEN c ELSE 0 END"))
            .cast("bigint")
            .alias("dup5"),
        )
    )
    return (
        n.join(btop, "doc_id")
        .join(fs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "top_bigram",
            "top_count",
            F.expr("(top_count * 2 * 1000000) DIV n_tokens").alias(
                "top2_token_frac_micro"
            ),
            F.expr(
                "CASE WHEN coalesce(total5, 0) > 0"
                " THEN (dup5 * 1000000) DIV total5"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("dup5_frac_micro"),
        )
        .orderBy(F.desc("dup5_frac_micro"), "doc_id")
        .limit(25)
    )


_PHRASE = ["vector", "merge"]


@register(
    "fts_phrase_search",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    p AS (
      SELECT doc_id, i - 1 AS pos, toks[i] AS term
      FROM base, unnest(range(1, greatest(len(toks), 0) + 1)) AS u(i)
    ),
    h AS (
      SELECT doc_id, pos - s.slot AS base, s.slot
      FROM p JOIN (VALUES
        {", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))})
        AS s(slot, t) ON p.term = s.t
    ),
    occ AS (
      SELECT doc_id, base
      FROM h GROUP BY doc_id, base
      HAVING count(DISTINCT slot) = {len(_PHRASE)} AND base >= 0
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM occ GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id LIMIT 50
    """,
    doc="exact-PHRASE search over positional postings "
    "(fts.phrase_search): documents where the query tokens appear "
    "adjacent and in order, ranked by occurrence count — the third "
    "FTS access path beside BM25's ranked union and the conjunctive "
    "intersection (reference analog: phraseto_tsquery semantics). "
    "Adjacency is the BASE-POSITION rewrite: a hit at position p for "
    "slot i anchors base p-i, and an occurrence is a (doc, base) "
    "group covering all slots — one map-side IN prune, one bounded "
    "aggregation, NEVER an n-way posting self-join; longer phrases "
    "only tighten the plan.",
)
def fts_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fts.phrase_search(docs, "doc_id", "text", list(_PHRASE), k=50)


#: RRF constants: the standard k=60 damping, leg depth 50, fused
#: top-10.  The per-rank increment 1e6/(60+r) is FOLDED in Python to
#: exact micro literals (the decayed_user_value convention) — no
#: cross-engine division at query time.
_RRF_DEPTH = 50
_RRF_TOPK = 10
_RRF_MICRO = [
    int(math.floor(1_000_000.0 / (60 + r) + 0.5))
    for r in range(1, _RRF_DEPTH + 1)
]


@register(
    "rag_hybrid_rrf",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    docs2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
    stats AS (SELECT count(*) AS n_docs, CAST(avg(dl) AS DOUBLE) AS avgdl
              FROM docs2),
    hits AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM docs2
      ) WHERE term IN ('vector', 'merge', 'window')
      GROUP BY doc_id, dl, term
    ),
    dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits
            GROUP BY term),
    bscore AS (
      SELECT h.doc_id,
             CAST(sum(CAST(floor(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)
                         + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
               * CAST(h.tf AS DOUBLE) * 2.2
               / (CAST(h.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(h.dl AS DOUBLE) / s.avgdl))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_micro
      FROM hits h JOIN dfs d ON h.term = d.term CROSS JOIN stats s
      GROUP BY h.doc_id
    ),
    bleg AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY s_micro DESC, doc_id) AS rnk
      FROM bscore
      ORDER BY s_micro DESC, doc_id LIMIT {_RRF_DEPTH}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cscore AS (
      SELECT e.vec_id AS doc_id,
             CAST(floor({PT.dot_double('e.embedding', 'q.qv', D)}
                        * 1000000.0 + 0.5) AS BIGINT) AS rel
      FROM embeddings e CROSS JOIN q
    ),
    cleg AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
      FROM cscore ORDER BY rel DESC, doc_id LIMIT {_RRF_DEPTH}
    ),
    rrf(rnk, m) AS (VALUES
      {", ".join(f"({r}, {m})" for r, m in enumerate(_RRF_MICRO, 1))}),
    legs AS (
      SELECT doc_id, 'bm25' AS leg, b.rnk, rrf.m
      FROM bleg b JOIN rrf ON rrf.rnk = b.rnk
      UNION ALL
      SELECT doc_id, 'cos', c.rnk, rrf.m
      FROM cleg c JOIN rrf ON rrf.rnk = c.rnk
    )
    SELECT doc_id,
           CAST(coalesce(max(CASE WHEN leg = 'bm25' THEN rnk END), 0)
                AS BIGINT) AS bm25_rank,
           CAST(coalesce(max(CASE WHEN leg = 'cos' THEN rnk END), 0)
                AS BIGINT) AS cos_rank,
           CAST(sum(m) AS BIGINT) AS rrf_micro
    FROM legs GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOPK}
    """,
    doc="HYBRID retrieval by Reciprocal Rank Fusion (Cormack et al. "
    "2009) — the standard way production RAG combines keyword and "
    "vector search: BM25 top-50 and exact-cosine top-50 each "
    "contribute 1/(60+rank), summed per document, fused top-10. The "
    "per-rank increments are folded Python micro literals joined on "
    "a 50-row table, so fusion is exact BIGINT addition (rank ties "
    "by doc id in both legs — total orders end to end). Both legs "
    "are already-gated machinery (fts.bm25_topk's pruned postings; "
    "the brute-force dot as a broadcast single-row cross join — no "
    "driver collect); fusion adds one bounded union + aggregate. "
    "vec_id doubles as doc_id: the embeddings table is the corpus "
    "embedding tier (same 0..N id domain).",
)
def rag_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    w_b = Window.orderBy(F.desc("s_micro"), F.asc("doc_id"))
    bscore = fts.bm25_topk(
        docs, "doc_id", "text", ["vector", "merge", "window"],
        k=_RRF_DEPTH,
    ).select(
        "doc_id",
        F.expr("CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)").alias(
            "s_micro"
        ),
    )
    bleg = bscore.withColumn("rnk", F.row_number().over(w_b)).select(
        "doc_id", "rnk"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cscore = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.expr(
            f"CAST(floor({PT.dot_double('embedding', 'qv', PT.SPARK)}"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("rel"),
    )
    w_c = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    cleg = (
        cscore.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .withColumn("rnk", F.row_number().over(w_c))
        .select("doc_id", "rnk")
    )
    rrf = spark.createDataFrame(
        list(enumerate(_RRF_MICRO, 1)), "rnk int, m bigint"
    )
    legs = (
        bleg.withColumn("leg", F.lit("bm25"))
        .unionByName(cleg.withColumn("leg", F.lit("cos")))
        .join(F.broadcast(rrf), "rnk")
    )
    return (
        legs.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("leg") == "bm25", F.col("rnk"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("bm25_rank"),
            F.coalesce(
                F.max(F.when(F.col("leg") == "cos", F.col("rnk"))), F.lit(0)
            )
            .cast("bigint")
            .alias("cos_rank"),
            F.sum("m").cast("bigint").alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(_RRF_TOPK)
    )


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback
# ---------------------------------------------------------------------------

_PRF_K = 10
#: Rocchio beta folded as a literal; alpha = 1.0.  Classic PRF drops
#: the gamma (negative) term — no judged non-relevant set exists.
_PRF_BETA = "0.75"

_PRF_DOT1 = PT.dot_double("e.embedding", "q.q_vec", D)
_PRF_DOT2 = PT.dot_double("e.embedding", "qp.r_vec", D)

_ROCCHIO_ORACLE = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    pool AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
    r1 AS (
      SELECT q.q_id, e.vec_id,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY {_PRF_DOT1} DESC, e.vec_id) AS rank
      FROM pool e, q
    ),
    fb AS (SELECT q_id, vec_id FROM r1 WHERE rank <= {_PRF_K}),
    cent AS (
      SELECT q_id, array_agg(m ORDER BY pos) AS c_vec
      FROM (
        SELECT q_id, pos,
               {PT.round6('CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / count(*)', D)} AS m
        FROM (
          SELECT fb.q_id, unnest(e.embedding) AS val,
                 unnest(range(0, len(e.embedding))) AS pos
          FROM fb JOIN pool e USING (vec_id)
        ) x GROUP BY q_id, pos
      ) y GROUP BY q_id
    ),
    qp AS (
      SELECT q.q_id,
             list_transform(list_zip(q.q_vec, c.c_vec),
               p -> {PT.round6(f'CAST(p[1] AS DOUBLE) + {_PRF_BETA} * CAST(p[2] AS DOUBLE)', D)})
               AS r_vec
      FROM q JOIN cent c ON c.q_id = q.q_id
    ),
    r2 AS (
      SELECT qp.q_id, e.vec_id,
             row_number() OVER (PARTITION BY qp.q_id
                                ORDER BY {_PRF_DOT2} DESC, e.vec_id) AS rank,
             CAST(floor({_PRF_DOT2} * 1000000.0 + 0.5) AS BIGINT)
               AS sim_micro
      FROM pool e, qp
    )
    SELECT r2.q_id, r2.vec_id, CAST(r2.rank AS BIGINT) AS rank,
           r2.sim_micro,
           CAST(CASE WHEN fb.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS in_prf
    FROM r2 LEFT JOIN fb
      ON fb.q_id = r2.q_id AND fb.vec_id = r2.vec_id
    WHERE r2.rank <= {_PRF_K}
    ORDER BY r2.q_id, r2.rank
"""


@register(
    "rocchio_prf_rerank",
    oracle=_ROCCHIO_ORACLE,
    doc="Rocchio pseudo-relevance feedback: retrieve the exact cosine "
    "top-10 per query (vec_id < 5, pool vec_id >= 20), fold the "
    "feedback set into a per-query centroid (the "
    "embedding_label_centroids recipe — posexplode, order-free "
    "DECIMAL(27,10) partial sums, round6 mean per dim), expand the "
    "query as q' = q + 0.75*centroid with every component round6-"
    "snapped (bit-identical in both engines), and retrieve again "
    "with q'.  Output: second-pass top-10 with micro-snapped score "
    "and an in_prf flag marking which hits the feedback set already "
    "contained — the classic recall-expansion readout.  Scale: two "
    "broadcast map-side scoring passes over a never-shuffled pool; "
    "the centroid shuffle is (n_queries x dims) cells, independent "
    "of corpus size.",
)
def rocchio_prf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    pool = e.filter(F.col("vec_id") >= 20).select("vec_id", "embedding")
    fb = ann.brute_force_topk(pool, q, k=_PRF_K).select("q_id", "vec_id")
    pos = fb.join(pool, "vec_id").select(
        "q_id", F.posexplode("embedding").alias("pos", "val")
    )
    cent = (
        pos.groupBy("q_id", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(27,10)"))
            .cast("double")
            .alias("s"),
            F.count("*").alias("c"),
        )
        .withColumn("m", F.expr(PT.round6("s / c", S)))
        .groupBy("q_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))),"
                " x -> x.m)"
            ).alias("c_vec")
        )
    )
    qp = q.join(cent, "q_id").select(
        "q_id",
        F.expr(
            "zip_with(q_vec, c_vec, (x, y) -> "
            + PT.round6(
                f"CAST(x AS DOUBLE) + {_PRF_BETA} * CAST(y AS DOUBLE)", S
            )
            + ")"
        ).alias("q_vec"),
    )
    r2 = ann.brute_force_topk(pool, qp, k=_PRF_K)
    return (
        r2.join(
            fb.withColumn("in_prf_1", F.lit(1)),
            ["q_id", "vec_id"],
            "left",
        )
        .select(
            "q_id",
            "vec_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.expr(
                "CAST(floor(similarity * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("sim_micro"),
            F.coalesce(F.col("in_prf_1"), F.lit(0))
            .cast("bigint")
            .alias("in_prf"),
        )
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# Split leakage audit
# ---------------------------------------------------------------------------

def _split_expr(dialect: str) -> str:
    """Deterministic 80/10/10 split: portable polynomial hash of the
    doc id string -> bucket 0-9 -> train(0-7) / val(8) / test(9).
    Identical literal arithmetic in both engines."""
    idstr = (
        "CAST(doc_id AS STRING)" if dialect == S else "CAST(doc_id AS VARCHAR)"
    )
    bucket = f"(({PT.poly_hash(idstr, dialect)}) % 10)"
    return (
        f"CASE WHEN {bucket} <= 7 THEN 'train' "
        f"WHEN {bucket} = 8 THEN 'val' ELSE 'test' END"
    )


_LEAK_EST = 0.5

_LEAK_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT doc_id, {PT.hash_array('toks', D)} AS tok_hashes FROM t),
    h AS (SELECT doc_id, {PT.word_ngram_hashes('tok_hashes', 3, D)} AS gram_hashes
          FROM g WHERE len(tok_hashes) >= 3),
    s AS (SELECT doc_id, {PT.minhash_from_hashes('gram_hashes', 32, D)} AS mh FROM h),
    banded AS (
      SELECT doc_id, mh, b AS band_idx,
             list_slice(mh, b*2 + 1, b*2 + 2) AS band_sig
      FROM s, unnest(range(16)) AS tt(b)
    ),
    capped AS (
      SELECT doc_id, mh, band_idx, band_sig FROM (
        SELECT banded.*, count(*) OVER (PARTITION BY band_idx, band_sig)
                 AS bucket_n
        FROM banded) t
      WHERE bucket_n <= 1000
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.mh AS mh_a, b.mh AS mh_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ),
    near AS (
      SELECT id_a, id_b FROM pairs
      WHERE len(list_filter(range(1, 33), i -> mh_a[i] = mh_b[i])) / 32.0
            >= {_LEAK_EST}
    ),
    sp AS (SELECT doc_id, {_split_expr(D)} AS split FROM documents),
    cls AS (
      SELECT least(sa.split, sb.split) AS split_lo,
             greatest(sa.split, sb.split) AS split_hi,
             n.id_a, n.id_b, sa.split AS s_a, sb.split AS s_b
      FROM near n
      JOIN sp sa ON sa.doc_id = n.id_a
      JOIN sp sb ON sb.doc_id = n.id_b
    ),
    pair_agg AS (
      SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
      FROM cls GROUP BY 1, 2
    ),
    members AS (
      SELECT split_lo, split_hi, id_a AS doc_id, s_a AS s FROM cls
      UNION ALL
      SELECT split_lo, split_hi, id_b AS doc_id, s_b AS s FROM cls
    ),
    doc_agg AS (
      SELECT split_lo, split_hi,
             CAST(count(DISTINCT CASE WHEN s = split_lo THEN doc_id END)
                  AS BIGINT) AS n_docs_lo,
             CAST(count(DISTINCT CASE WHEN s = split_hi THEN doc_id END)
                  AS BIGINT) AS n_docs_hi
      FROM members GROUP BY 1, 2
    )
    SELECT p.split_lo, p.split_hi, p.n_pairs, d.n_docs_lo, d.n_docs_hi,
           CAST(CASE WHEN p.split_lo = p.split_hi THEN 0 ELSE 1 END
                AS BIGINT) AS is_cross_split
    FROM pair_agg p JOIN doc_agg d
      ON d.split_lo = p.split_lo AND d.split_hi = p.split_hi
    ORDER BY p.split_lo, p.split_hi
"""


@register(
    "split_leakage_audit",
    bench=True,
    oracle=_LEAK_ORACLE,
    doc="train/val/test split-leakage audit — the decontamination "
    "check an eval pipeline runs before trusting held-out metrics: "
    "docs get a deterministic 80/10/10 split (portable polynomial "
    "hash of the id, bucket 0-9), near-dup candidate pairs come from "
    "the standing MinHash(32)+LSH(16x2) machinery at est Jaccard >= "
    "0.5, and the output is the split-pair contamination matrix: "
    "pairs per (split_lo, split_hi) class plus distinct docs on each "
    "side (lo/hi order is lexicographic) — the ('test', 'train') "
    "row's n_docs_lo IS the count of contaminated test documents.  Scale: the banded self-join "
    "bounds pair generation exactly as dedup_minhash_lsh (hot-bucket "
    "cap 1000); the split join is a broadcast-sized id->split map "
    "derived map-side, no extra corpus shuffle.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sp = docs.select("doc_id", F.expr(_split_expr(S)).alias("split"))
    sigs = dedup.with_minhash(docs, "text", "doc_id", n_hashes=32, shingle_words=3)
    near = (
        dedup.lsh_candidate_pairs(
            sigs, "doc_id", n_hashes=32, bands=16, max_bucket_size=1000
        )
        .filter(F.col("est_jaccard") >= _LEAK_EST)
        .select("id_a", "id_b")
    )
    cls = (
        near.join(
            sp.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("s_a")
            ),
            "id_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("s_b")
            ),
            "id_b",
        )
        .select(
            F.least("s_a", "s_b").alias("split_lo"),
            F.greatest("s_a", "s_b").alias("split_hi"),
            "id_a",
            "id_b",
            "s_a",
            "s_b",
        )
    )
    pair_agg = cls.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    members = cls.select(
        "split_lo", "split_hi", F.col("id_a").alias("doc_id"),
        F.col("s_a").alias("s")
    ).unionAll(
        cls.select(
            "split_lo", "split_hi", F.col("id_b").alias("doc_id"),
            F.col("s_b").alias("s")
        )
    )
    doc_agg = members.groupBy("split_lo", "split_hi").agg(
        F.countDistinct(
            F.when(F.col("s") == F.col("split_lo"), F.col("doc_id"))
        )
        .cast("bigint")
        .alias("n_docs_lo"),
        F.countDistinct(
            F.when(F.col("s") == F.col("split_hi"), F.col("doc_id"))
        )
        .cast("bigint")
        .alias("n_docs_hi"),
    )
    return (
        pair_agg.join(doc_agg, ["split_lo", "split_hi"])
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            "n_docs_lo",
            "n_docs_hi",
            F.when(F.col("split_lo") == F.col("split_hi"), 0)
            .otherwise(1)
            .cast("bigint")
            .alias("is_cross_split"),
        )
        .orderBy("split_lo", "split_hi")
    )


# ---------------------------------------------------------------------------
# DBSCAN density clustering over embeddings
# ---------------------------------------------------------------------------

_DBSCAN_EPS = "0.35"   # cosine similarity threshold (literal, both engines)
_DBSCAN_MIN_DEG = 2    # minPts = 3 INCLUDING self <=> degree >= 2

_DB_DOT = PT.dot_double("a.embedding", "b.embedding", D)

#: exact all-pairs eps-edges (the O(n^2) audit form)
_DBSCAN_EXACT_EDGES = f"""
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_DB_DOT} >= {_DBSCAN_EPS}
"""

#: SRP-LSH-bucketed eps-edges (the scale form): candidates = pairs
#: sharing EITHER of two independent 8-plane SRP codes; exact cosine
#: verification inside buckets only.
_DBSCAN_SRP_EDGES = f"""
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM (SELECT vec_id, embedding, {_srp_bucket(D)} AS b1,
                   {_srp_bucket(D, offset=8)} AS b2 FROM embeddings) a
      JOIN (SELECT vec_id, embedding, {_srp_bucket(D)} AS b1,
                   {_srp_bucket(D, offset=8)} AS b2 FROM embeddings) b
        ON (a.b1 = b.b1 OR a.b2 = b.b2) AND a.vec_id < b.vec_id
      WHERE {_DB_DOT} >= {_DBSCAN_EPS}
"""

#: everything downstream of the eps-graph (degrees -> cores ->
#: core-core components -> border attachment -> noise accounting) is
#: IDENTICAL between the exact and SRP forms — one template, two edge
#: generators, on both engines.
_DBSCAN_ORACLE_TEMPLATE = f"""
    WITH RECURSIVE e AS ({{edges}}),
    nbr AS (SELECT ia AS v, ib AS u FROM e UNION ALL SELECT ib, ia FROM e),
    deg AS (SELECT v, count(*) AS c FROM nbr GROUP BY v),
    core AS (SELECT v FROM deg WHERE c >= {_DBSCAN_MIN_DEG}),
    ce AS (
      SELECT e.ia AS src, e.ib AS dst FROM e
      JOIN core ca ON ca.v = e.ia JOIN core cb ON cb.v = e.ib
    ),
    cnbr AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
    reach(vertex, label) AS (
      SELECT DISTINCT src AS vertex, src AS label FROM cnbr
      UNION
      SELECT cnbr.src, reach.label FROM cnbr
      JOIN reach ON reach.vertex = cnbr.dst
    ),
    cc AS (SELECT vertex, min(label) AS label FROM reach GROUP BY vertex),
    core_labels AS (
      SELECT core.v AS vertex, coalesce(cc.label, core.v) AS label
      FROM core LEFT JOIN cc ON cc.vertex = core.v
    ),
    border AS (
      SELECT nbr.v AS vertex, min(cl.label) AS label
      FROM nbr JOIN core_labels cl ON cl.vertex = nbr.u
      WHERE nbr.v NOT IN (SELECT v FROM core)
      GROUP BY nbr.v
    ),
    members AS (
      SELECT vertex, label, 1 AS is_core FROM core_labels
      UNION ALL
      SELECT vertex, label, 0 FROM border
    ),
    clusters AS (
      SELECT CAST(label AS BIGINT) AS cluster_id,
             CAST(sum(is_core) AS BIGINT) AS n_core,
             CAST(count(*) - sum(is_core) AS BIGINT) AS n_border,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(min(vertex) AS BIGINT) AS min_member,
             CAST(max(vertex) AS BIGINT) AS max_member
      FROM members GROUP BY label
    ),
    noise AS (
      SELECT CAST(-1 AS BIGINT) AS cluster_id,
             CAST(0 AS BIGINT) AS n_core, CAST(0 AS BIGINT) AS n_border,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(min(vec_id) AS BIGINT) AS min_member,
             CAST(max(vec_id) AS BIGINT) AS max_member
      FROM embeddings
      WHERE vec_id NOT IN (SELECT vertex FROM members)
    )
    SELECT * FROM clusters
    UNION ALL
    SELECT * FROM noise WHERE n_total > 0
    ORDER BY cluster_id
"""

_DBSCAN_ORACLE = _DBSCAN_ORACLE_TEMPLATE.format(edges=_DBSCAN_EXACT_EDGES)


def _dbscan_report(e: DataFrame, edges: DataFrame) -> DataFrame:
    """Shared DBSCAN machinery downstream of the eps-graph: degrees ->
    core points (>= _DBSCAN_MIN_DEG neighbors) -> connected components
    of the core-core graph (star contraction, operators/graph.py) ->
    deterministic border attachment (min core-neighbor label) -> the
    cluster_id = -1 noise row.  `edges` must be the deduplicated
    (ia < ib) within-eps pairs; `e` the full embeddings table (for the
    noise complement).

    The eps-graph is localCheckpointed, not merely barriered: the
    downstream DAG takes several ACTIONS (the components fixpoint's
    materialize/count/collect plus the final report), and a plain
    repartition barrier would replay the whole candidate-generation
    pipeline (SRP codes + bucket joins + exact verification) once per
    action — measured 3-5 s of pure recomputation per stage at sf0.1.
    The edge set is orders smaller than the corpus, so pinning it is
    the cheap side of that trade at any scale."""
    edges = edges.localCheckpoint(eager=True)
    nbr = edges.select(
        F.col("ia").alias("v"), F.col("ib").alias("u")
    ).unionAll(edges.select(F.col("ib").alias("v"), F.col("ia").alias("u")))
    core = (
        nbr.groupBy("v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= _DBSCAN_MIN_DEG)
        .select("v")
    )
    ce = (
        edges.join(core.select(F.col("v").alias("ia")), "ia")
        .join(core.select(F.col("v").alias("ib")), "ib")
        .select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    )
    cc = graph.connected_components(ce)
    core_labels = core.join(
        cc, core.v == cc.vertex, "left"
    ).select(
        F.col("v").alias("vertex"),
        F.coalesce(F.col("label"), F.col("v")).alias("label"),
    )
    border = (
        nbr.join(core.select(F.col("v").alias("nc")), nbr.v == F.col("nc"), "left_anti")
        .join(
            core_labels.select(
                F.col("vertex").alias("u"), F.col("label").alias("ulabel")
            ),
            "u",
        )
        .groupBy("v")
        .agg(F.min("ulabel").alias("label"))
        .select(F.col("v").alias("vertex"), "label")
    )
    members = core_labels.withColumn("is_core", F.lit(1)).unionAll(
        border.withColumn("is_core", F.lit(0))
    )
    clusters = members.groupBy("label").agg(
        F.sum("is_core").cast("bigint").alias("n_core"),
        (F.count("*") - F.sum("is_core")).cast("bigint").alias("n_border"),
        F.count("*").cast("bigint").alias("n_total"),
        F.min("vertex").cast("bigint").alias("min_member"),
        F.max("vertex").cast("bigint").alias("max_member"),
    ).select(
        F.col("label").cast("bigint").alias("cluster_id"),
        "n_core",
        "n_border",
        "n_total",
        "min_member",
        "max_member",
    )
    noise = (
        e.select(F.col("vec_id").alias("vertex"))
        .join(members.select("vertex"), "vertex", "left_anti")
        .agg(
            F.lit(-1).cast("bigint").alias("cluster_id"),
            F.lit(0).cast("bigint").alias("n_core"),
            F.lit(0).cast("bigint").alias("n_border"),
            F.count("*").cast("bigint").alias("n_total"),
            F.min("vertex").cast("bigint").alias("min_member"),
            F.max("vertex").cast("bigint").alias("max_member"),
        )
        .filter(F.col("n_total") > 0)
    )
    return clusters.unionAll(noise).orderBy("cluster_id")


@register(
    "dbscan_srp_clusters",
    bench=True,
    oracle=_DBSCAN_ORACLE_TEMPLATE.format(edges=_DBSCAN_SRP_EDGES),
    doc="DBSCAN at scale (round 9, verdict r8 ask #2): the eps-graph "
    "comes from SRP-LSH bucketed candidate pairs — two independent "
    "8-plane sign-random-projection codes (256 buckets each), pairs "
    "sharing EITHER code verified with the exact fold-ordered cosine "
    "INSIDE buckets, then union + dropDuplicates.  The n^2 all-pairs "
    "join never exists: each leg is an equi-join on its bucket code "
    "(Spark never sees the OR — that would plan a nested-loop), so "
    "the shuffle is 2x one row per table per vector, and candidate "
    "work is sum of squared bucket sizes, not n^2.  Downstream is "
    "the SAME core/border/components machinery as the exact audit "
    "form (_dbscan_report): degree >= 2 cores, star-contraction "
    "components over core-core edges, deterministic min-label border "
    "attachment, noise row.  Recall loss vs the audit form is the "
    "measured, documented trade: dbscan_srp_edge_recall puts this "
    "plane budget at 35-59 milli edge recall on the synthetic "
    "corpus, matching theory — a plane agrees with probability "
    "1 - theta/pi ~= 0.61 at the loose eps (cos 0.35, ~69 deg), so "
    "an 8-plane code collides at ~0.61^8 ~= 2% and two tables give "
    "~4%; SRP-LSH is a TIGHT-threshold tool, and at loose eps the "
    "production answer is more tables (linear cost) or an IVF-style "
    "candidate generator, both calibrated with the recall query on "
    "a sample.  Precision is exact either way (in-bucket cosine "
    "verification), and the hash gate pins the SRP form against its "
    "own oracle twin, which replays the identical two-code bucketing "
    "in SQL.",
)
def dbscan_srp_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return _dbscan_report(e, _dbscan_srp_edges(spark, sf_dir))


def _dbscan_srp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRP-bucketed eps-graph BEFORE the report's checkpoint —
    separated so the physical-plan test can assert the two-equi-join
    shape (the checkpoint in _dbscan_report truncates the explained
    plan of the full query, which would make a plan assertion on the
    query itself vacuous)."""
    e = _t(spark, sf_dir, "embeddings")
    b = barrier(
        e.select(
            "vec_id",
            "embedding",
            F.expr(_srp_bucket(S)).alias("b1"),
            F.expr(_srp_bucket(S, offset=8)).alias("b2"),
        )
    )

    def leg(code: str) -> DataFrame:
        a = b.alias("a")
        c = b.alias("b")
        sim = F.expr(PT.dot_double("a.embedding", "b.embedding", S))
        return (
            a.join(
                c,
                (F.col(f"a.{code}") == F.col(f"b.{code}"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .filter(sim >= F.expr(_DBSCAN_EPS))
            .select(
                F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib")
            )
        )

    return leg("b1").unionAll(leg("b2")).dropDuplicates(["ia", "ib"])


@register(
    "dbscan_embedding_clusters",
    oracle=_DBSCAN_ORACLE,
    doc="DBSCAN density clustering over the embedding table (eps = "
    "cosine >= 0.35, minPts = 3 including the point itself): core "
    "points have >= 2 within-eps neighbors, clusters are connected "
    "components of the CORE-CORE graph (star contraction, "
    "operators/graph.py), border points attach to the smallest "
    "cluster label among their core neighbors (the deterministic "
    "resolution of DBSCAN's classic border ambiguity), everything "
    "else is the cluster_id = -1 noise row.  The density complement "
    "of the centroid-based k-means family: finds arbitrary-shape "
    "clusters and leaves outliers OUT of the training mix.  This is "
    "the exact all-pairs AUDIT form (refuses above max_rows, the "
    "dedup_embedding_cosine convention); the scale path feeds the "
    "same core/border/components machinery from SRP-LSH bucketed "
    "candidate pairs instead of the n^2 join.  Oracle: recursive-CTE "
    "min-closure over the same core graph.",
)
def dbscan_embedding_clusters(
    spark: SparkSession, sf_dir: str, max_rows: int = 100_000
) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"dbscan_embedding_clusters is an exact O(n^2) audit query; "
            f"corpus has {n} rows > max_rows={max_rows}. Feed the "
            f"core/border/components machinery from SRP-LSH bucketed "
            f"pairs (dedup_embedding_srp_lsh) for large corpora."
        )
    a = e.alias("a")
    b = e.alias("b")
    sim = F.expr(PT.dot_double("a.embedding", "b.embedding", S))
    edges = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(sim >= F.expr(_DBSCAN_EPS))
        .select(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib")
        )
    )
    return _dbscan_report(e, edges)


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval — the third classic
# ranking model beside BM25 (fts_bm25_search) and vector cosine.
# ---------------------------------------------------------------------------

_QL_MU = 2000
_QL_K = 10

_QL_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    docs2 AS (SELECT doc_id, len(toks) AS dl FROM base),
    corpus AS (
      SELECT CAST(sum(dl) AS BIGINT) AS c_len FROM docs2
    ),
    cf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cf FROM (
        SELECT unnest(toks) AS term FROM base
      ) WHERE term IN ('vector', 'merge', 'window')
      GROUP BY term
    ),
    hits AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM base
      ) WHERE term IN ('vector', 'merge', 'window')
      GROUP BY doc_id, term
    ),
    scored AS (
      SELECT d.doc_id,
             CASE WHEN h.tf IS NOT NULL THEN 1 ELSE 0 END AS hit,
             CAST(floor(
               ln(CAST(coalesce(h.tf, 0) * c.c_len
                       + {_QL_MU} * cf.cf AS DOUBLE)
                  / CAST((d.dl + {_QL_MU}) * c.c_len AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS micro
      FROM docs2 d CROSS JOIN cf CROSS JOIN corpus c
      LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.term = cf.term
    )
    SELECT doc_id, CAST(sum(hit) AS BIGINT) AS n_terms_hit,
           CAST(sum(micro) AS DOUBLE) / 1000000.0 AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {_QL_K}
"""


@register(
    "fts_dirichlet_ql_search",
    oracle=_QL_ORACLE,
    doc="Dirichlet-smoothed query-likelihood retrieval (Zhai & "
    "Lafferty 2001; mu = 2000) for the same 3-term query as "
    "fts_bm25_search — the language-modeling member of the classic "
    "ranking triad (BM25, vector cosine, QL): score = sum over "
    "query terms of ln((tf*|C| + mu*cf) / ((dl + mu)*|C|)), every "
    "ln applied ONCE to a ratio of exact BIGINT products "
    "(the lm_perplexity convention) and micro-snapped before the "
    "per-doc sum, so ordering is addition-order independent.  "
    "Unlike BM25, zero-tf terms still contribute the background "
    "mass — every doc scores on every query term via a 3x fan-out "
    "of the doc-length table with the tiny cf/corpus scalars "
    "broadcast; postings prune to query terms before any shuffle.  "
    "TakeOrderedAndProject top-10.",
)
def fts_dirichlet_ql_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.expr(PT.tokens("text", S)).alias("toks")
    )
    base = barrier(base)
    docs2 = base.select("doc_id", F.size("toks").alias("dl"))
    words = base.select(
        "doc_id", F.explode("toks").alias("term")
    )
    corpus = docs2.agg(F.sum("dl").cast("bigint").alias("c_len"))
    qterms = words.filter(F.col("term").isin(*_FTS_TERMS))
    cf = qterms.groupBy("term").agg(
        F.count("*").cast("bigint").alias("cf")
    )
    hits = qterms.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    scored = (
        docs2.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(corpus))
        .join(hits, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.when(F.col("tf").isNotNull(), 1).otherwise(0).alias("hit"),
            F.expr(
                f"CAST(floor(ln(CAST(coalesce(tf, 0) * c_len"
                f" + {_QL_MU} * cf AS DOUBLE)"
                f" / CAST((dl + {_QL_MU}) * c_len AS DOUBLE))"
                f" * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("hit").cast("bigint").alias("n_terms_hit"),
            (F.sum("micro").cast("double") / 1000000.0).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(_QL_K)
    )


# ---------------------------------------------------------------------------
# Search-result snippet highlighting
# ---------------------------------------------------------------------------

_SNIP_K = 5
_SNIP_WIN = 120
_SNIP_BACK = 40


def _snip_pos(term: str, dialect: str) -> str:
    fn = "instr" if dialect == S else "strpos"
    return f"CAST({fn}(lower(coalesce(text, '')), '{term}') AS BIGINT)"


def _snip_exprs(dialect: str) -> dict[str, str]:
    pos = {t: _snip_pos(t, dialect) for t in _FTS_TERMS}
    hits = ", ".join(
        f"CASE WHEN {p} > 0 THEN {p} END" for p in pos.values()
    )
    first_hit = f"least({hits})"
    start = f"greatest({first_hit} - {_SNIP_BACK}, 1)"
    return {
        **{f"pos_{t}": p for t, p in pos.items()},
        "first_hit": first_hit,
        "snippet": f"substr(coalesce(text, ''), CAST({start} AS INT),"
        f" {_SNIP_WIN})",
    }


_SNIP_E = _snip_exprs(D)

_SNIP_ORACLE = f"""
    WITH ranked AS ({_FTS_ORACLE.replace(f"LIMIT {_FTS_K}", f"LIMIT {_SNIP_K}")}),
    j AS (
      SELECT r.doc_id, r.score, d.text
      FROM ranked r JOIN documents d USING (doc_id)
    )
    SELECT doc_id, score,
           {_SNIP_E['pos_vector']} AS pos_vector,
           {_SNIP_E['pos_merge']} AS pos_merge,
           {_SNIP_E['pos_window']} AS pos_window,
           CAST({_SNIP_E['first_hit']} AS BIGINT) AS first_hit,
           {_SNIP_E['snippet']} AS snippet
    FROM j ORDER BY score DESC, doc_id
"""


@register(
    "search_snippet_highlight",
    oracle=_SNIP_ORACLE,
    doc="search-result presentation: the BM25 top-5 (fts_bm25_search "
    "machinery) joined back to full text for per-term first-match "
    "offsets (1-based, 0 = absent — instr/strpos agree across "
    "engines) and a 120-char snippet window opened 40 chars before "
    "the earliest hit — the reference's LEFT(280) detail snippet "
    "(T11) upgraded to query-aware highlighting.  All string "
    "arithmetic is exact and map-side; only the top-5 ids re-join "
    "the text column, so full text never moves for non-hits.",
)
def search_snippet_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    top = fts.bm25_topk(
        docs, "doc_id", "text", list(_FTS_TERMS), k=_SNIP_K
    ).select("doc_id", "score")
    e = _snip_exprs(S)
    return (
        top.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "score",
            F.expr(e["pos_vector"]).alias("pos_vector"),
            F.expr(e["pos_merge"]).alias("pos_merge"),
            F.expr(e["pos_window"]).alias("pos_window"),
            F.expr(e["first_hit"]).cast("bigint").alias("first_hit"),
            F.expr(e["snippet"]).alias("snippet"),
        )
        .orderBy(F.desc("score"), "doc_id")
    )


# ---------------------------------------------------------------------------
# Decontaminated eval export — the actionable step after the audit
# ---------------------------------------------------------------------------

_DECON_PAIRS = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT doc_id, {PT.hash_array('toks', D)} AS tok_hashes FROM t),
    h AS (SELECT doc_id, {PT.word_ngram_hashes('tok_hashes', 3, D)} AS gram_hashes
          FROM g WHERE len(tok_hashes) >= 3),
    s AS (SELECT doc_id, {PT.minhash_from_hashes('gram_hashes', 32, D)} AS mh FROM h),
    banded AS (
      SELECT doc_id, mh, b AS band_idx,
             list_slice(mh, b*2 + 1, b*2 + 2) AS band_sig
      FROM s, unnest(range(16)) AS tt(b)
    ),
    capped AS (
      SELECT doc_id, mh, band_idx, band_sig FROM (
        SELECT banded.*, count(*) OVER (PARTITION BY band_idx, band_sig)
                 AS bucket_n
        FROM banded) t
      WHERE bucket_n <= 1000
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.mh AS mh_a, b.mh AS mh_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ),
    near AS (
      SELECT id_a, id_b,
             CAST(len(list_filter(range(1, 33), i -> mh_a[i] = mh_b[i]))
                  * 1000 // 32 AS BIGINT) AS est_milli
      FROM pairs
      WHERE len(list_filter(range(1, 33), i -> mh_a[i] = mh_b[i])) / 32.0
            >= {_LEAK_EST}
    ),
    sp AS (SELECT doc_id, {_split_expr(D)} AS split FROM documents)
"""


@register(
    "eval_split_decontaminated",
    oracle=f"""{_DECON_PAIRS},
    links AS (
      SELECT CASE WHEN sa.split = 'test' THEN n.id_a ELSE n.id_b END
               AS test_doc,
             CASE WHEN sa.split = 'test' THEN n.id_b ELSE n.id_a END
               AS train_doc,
             n.est_milli
      FROM near n
      JOIN sp sa ON sa.doc_id = n.id_a
      JOIN sp sb ON sb.doc_id = n.id_b
      WHERE (sa.split = 'test' AND sb.split = 'train')
         OR (sa.split = 'train' AND sb.split = 'test')
    ),
    contaminated AS (
      SELECT test_doc,
             CAST(count(*) AS BIGINT) AS n_train_partners,
             CAST(max(est_milli) AS BIGINT) AS worst_est_milli,
             CAST(min(CASE WHEN est_milli = (SELECT max(l2.est_milli)
                 FROM links l2 WHERE l2.test_doc = links.test_doc)
                 THEN train_doc END) AS BIGINT) AS worst_partner
      FROM links GROUP BY test_doc
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST((SELECT count(*) FROM contaminated) AS BIGINT)
               AS n_contaminated
      FROM sp WHERE split = 'test'
    )
    SELECT c.test_doc, c.n_train_partners, c.worst_partner,
           c.worst_est_milli, k.n_test, k.n_contaminated,
           k.n_test - k.n_contaminated AS n_clean
    FROM contaminated c CROSS JOIN counts k
    ORDER BY c.test_doc
    """,
    doc="the actionable step after split_leakage_audit: list every "
    "TEST-split document with a near-dup partner in TRAIN (the docs "
    "an eval export must drop), each with its partner count, its "
    "worst (highest est-Jaccard) train partner — ties to the "
    "smallest partner id — and the constant n_test / n_contaminated "
    "/ n_clean export accounting.  Same MinHash-LSH candidate "
    "machinery and portable-hash split as the audit; the output is "
    "contamination-bounded, so the export decision list stays tiny "
    "at any corpus size.",
)
def eval_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sp = docs.select("doc_id", F.expr(_split_expr(S)).alias("split"))
    sigs = dedup.with_minhash(
        docs, "text", "doc_id", n_hashes=32, shingle_words=3
    )
    near = (
        dedup.lsh_candidate_pairs(
            sigs, "doc_id", n_hashes=32, bands=16, max_bucket_size=1000
        )
        .filter(F.col("est_jaccard") >= _LEAK_EST)
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST(CAST(est_jaccard * 32 + 0.5 AS BIGINT)"
                " * 1000 DIV 32 AS BIGINT)"
            ).alias("est_milli"),
        )
    )
    links = (
        near.join(
            sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("s_a")),
            "id_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("s_b")),
            "id_b",
        )
        .filter(
            ((F.col("s_a") == "test") & (F.col("s_b") == "train"))
            | ((F.col("s_a") == "train") & (F.col("s_b") == "test"))
        )
        .select(
            F.when(F.col("s_a") == "test", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("test_doc"),
            F.when(F.col("s_a") == "test", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_doc"),
            "est_milli",
        )
    )
    w_best = Window.partitionBy("test_doc").orderBy(
        F.desc("est_milli"), "train_doc"
    )
    contaminated = (
        links.withColumn("rn", F.row_number().over(w_best))
        .groupBy("test_doc")
        .agg(
            F.count("*").cast("bigint").alias("n_train_partners"),
            F.max("est_milli").cast("bigint").alias("worst_est_milli"),
            F.min(F.when(F.col("rn") == 1, F.col("train_doc")))
            .cast("bigint")
            .alias("worst_partner"),
        )
    )
    counts = sp.filter(F.col("split") == "test").agg(
        F.count("*").cast("bigint").alias("n_test")
    ).crossJoin(
        contaminated.agg(
            F.count("*").cast("bigint").alias("n_contaminated")
        )
    )
    return (
        contaminated.crossJoin(F.broadcast(counts))
        .select(
            "test_doc",
            "n_train_partners",
            "worst_partner",
            "worst_est_milli",
            "n_test",
            "n_contaminated",
            (F.col("n_test") - F.col("n_contaminated")).alias("n_clean"),
        )
        .orderBy("test_doc")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup — catches quote/inclusion relationships
# symmetric Jaccard dilutes away.
# ---------------------------------------------------------------------------

_CONTAIN_MIN = 0.5

_CONTAIN_ORACLE = f"""
    WITH t AS (SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents),
    g AS (SELECT doc_id, unnest({PT.word_ngrams('toks', 3, D)}) AS gram FROM t),
    gd AS (SELECT DISTINCT doc_id AS doc, gram FROM g),
    sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_grams
              FROM gd GROUP BY doc),
    dfreq AS (SELECT gram, count(*) AS gram_df FROM gd GROUP BY gram),
    filt AS (SELECT doc, gd.gram FROM gd JOIN dfreq USING (gram)
             WHERE gram_df <= 100),
    inter AS (
      SELECT a.doc AS id_small, b.doc AS id_big,
             CAST(count(*) AS BIGINT) AS n_common
      FROM filt a JOIN filt b ON a.gram = b.gram AND a.doc <> b.doc
      GROUP BY 1, 2
    )
    SELECT id_small, id_big, n_common,
           sa.n_grams AS n_small, sb.n_grams AS n_big,
           n_common * 1000 // sa.n_grams AS containment_milli
    FROM inter
    JOIN sizes sa ON sa.doc = id_small
    JOIN sizes sb ON sb.doc = id_big
    WHERE sa.n_grams <= sb.n_grams
      AND n_common * 1000 // sa.n_grams >= {int(_CONTAIN_MIN * 1000)}
    ORDER BY containment_milli DESC, id_small, id_big LIMIT 100
"""


@register(
    "dedup_containment_pairs",
    oracle=_CONTAIN_ORACLE,
    doc="asymmetric CONTAINMENT dedup: |grams(A) n grams(B)| / "
    "|grams(A)| for the smaller doc A — the relationship symmetric "
    "Jaccard dilutes away when a short document is quoted inside a "
    "long one (containment 1.0, Jaccard near |A|/|B|).  Same "
    "df-capped inverted-index join as dedup_ngram_jaccard (the "
    "hot-gram guard bounds fan-out at any corpus size); the "
    "normalization divides by the SMALLER side only, exact integer "
    "milli floor-division, pairs oriented small->big with a "
    "total-order tie-break.  The dedup policy consumer drops or "
    "down-weights contained docs rather than near-equal ones.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    gd = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(
                F.expr(PT.word_ngrams(PT.tokens("text", S), 3, S))
            ).alias("gram"),
        )
        .distinct()
    )
    gd = barrier(gd)
    sizes = gd.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    dfreq = gd.groupBy("gram").agg(F.count("*").alias("gram_df"))
    filt = gd.join(
        dfreq.filter(F.col("gram_df") <= 100).select("gram"), "gram"
    )
    a = filt.select(F.col("doc").alias("id_small"), "gram")
    b = filt.select(F.col("doc").alias("id_big"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_small") != F.col("id_big"))
        .groupBy("id_small", "id_big")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    out = (
        inter.join(
            sizes.select(
                F.col("doc").alias("id_small"), F.col("n_grams").alias("n_small")
            ),
            "id_small",
        )
        .join(
            sizes.select(
                F.col("doc").alias("id_big"), F.col("n_grams").alias("n_big")
            ),
            "id_big",
        )
        .filter(F.col("n_small") <= F.col("n_big"))
        .withColumn(
            "containment_milli",
            F.expr("n_common * 1000 DIV n_small"),
        )
        .filter(
            F.col("containment_milli") >= int(_CONTAIN_MIN * 1000)
        )
    )
    return (
        out.select(
            "id_small", "id_big", "n_common", "n_small", "n_big",
            "containment_milli",
        )
        .orderBy(F.desc("containment_milli"), "id_small", "id_big")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# kcenter_coreset_selection (round 9): greedy k-center — the pure-
# coverage diversity sampler beside MMR's relevance-balanced one.
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle(sf_dir: str) -> str:
    """Python twin: same seed (min vec_id), same left-fold double
    dots, same micro snapping, same (min best_sim, min vec_id)
    argmin — emitted as VALUES (the mmr/kcore convention for
    sequential algorithms)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + float(x) * float(y)
        return s

    def micro(x):
        import math

        return int(math.floor(x * 1_000_000.0 + 0.5))

    remaining = sorted(vecs)
    seed = remaining[0]
    picked = [(1, seed, 2_000_000)]
    best = {i: -2_000_000 for i in remaining}
    cur = seed
    remaining.remove(seed)
    for rank in range(2, _KC_K + 1):
        for i in remaining:
            best[i] = max(best[i], micro(dot(vecs[i], vecs[cur])))
        cur = min(remaining, key=lambda i: (best[i], i))
        picked.append((rank, cur, 1_000_000 - best[cur]))
        remaining.remove(cur)
    vals = ", ".join(f"({r}, {i}, {d})" for r, i, d in picked)
    return (
        f"SELECT CAST(rank AS BIGINT) AS rank, "
        f"CAST(vec_id AS BIGINT) AS vec_id, "
        f"CAST(dist_micro AS BIGINT) AS dist_micro "
        f"FROM (VALUES {vals}) AS t(rank, vec_id, dist_micro) "
        f"ORDER BY rank"
    )


@register(
    "kcenter_coreset_selection",
    oracle=_kcenter_oracle,
    doc="Greedy k-center (Gonzalez 2-approximation) coreset selection "
    "over the embedding table: seed = min vec_id, then k-1 rounds of "
    "'pick the point FARTHEST from every selected center' (cosine "
    "distance micro = 1e6 - dot_micro on the unit-norm vectors; seed "
    "row reports the 2e6 sentinel = max possible distance).  The "
    "pure-COVERAGE diversity sampler beside mmr_diverse_selection's "
    "relevance-balanced greedy — what dataset pruning runs to pick "
    "representatives that span embedding space, with each pick's "
    "dist_micro the (non-increasing) coverage radius sequence a "
    "curator reads to choose k.  Execution is the bpe/mmr driver-"
    "loop convention: the corpus NEVER shuffles — each round "
    "broadcasts one center vector as a literal, updates the running "
    "best-similarity column map-side (micro-snapped BEFORE greatest, "
    "so the fold order can't flip ties), localCheckpoints the "
    "frontier, and TakeOrdered(1) pulls the next center.  k rounds "
    "of one map pass each; at 100 TB that is k corpus scans with "
    "zero shuffle, the honest cost of exact greedy k-center.  "
    "Oracle: bit-exact pure-Python twin emitted as VALUES.",
)
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = e.orderBy("vec_id").limit(1).collect()[0]
    picked = [(1, int(seed.vec_id), 2_000_000)]
    cur_vec = [float(x) for x in seed.embedding]
    # localCheckpoint (NOT a repartition barrier): truncates lineage so
    # round r scans only round r-1's materialized frontier — without it
    # each round's TakeOrdered would recompute every prior round's dot
    # columns from the parquet scan (O(k^2) corpus scans), and a
    # repartition would add one shuffle per round for nothing.
    state = (
        e.filter(F.col("vec_id") != int(seed.vec_id))
        .withColumn("best_sim", F.lit(-2_000_000).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    dot_q = PT.dot_double("embedding", "_qv", S)
    for rank in range(2, _KC_K + 1):
        state = (
            state.withColumn(
                "_qv", F.array(*[F.lit(x) for x in cur_vec])
            )
            .withColumn(
                "best_sim",
                F.greatest(
                    "best_sim",
                    F.expr(
                        f"CAST(FLOOR(({dot_q}) * 1000000.0 + 0.5) AS BIGINT)"
                    ),
                ),
            )
            .drop("_qv")
            .localCheckpoint(eager=True)
        )
        nxt = (
            state.orderBy(F.asc("best_sim"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picked.append(
            (rank, int(nxt.vec_id), 1_000_000 - int(nxt.best_sim))
        )
        cur_vec = [float(x) for x in nxt.embedding]
        state = state.filter(F.col("vec_id") != int(nxt.vec_id))
    return spark.createDataFrame(
        picked, "rank: bigint, vec_id: bigint, dist_micro: bigint"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# cross_source_neardup_matrix (round 9): which sources copy each
# other — the provenance datacard built on the MinHash pair machinery.
# ---------------------------------------------------------------------------

_XSRC_EST = 0.5  # est Jaccard cutoff, the split_leakage_audit setting


@register(
    "cross_source_neardup_matrix",
    oracle=f"""
    WITH p0 AS ({_MINHASH_ORACLE.replace("LIMIT 20", "")}),
    p AS (SELECT id_a, id_b FROM p0 WHERE est_jaccard >= {_XSRC_EST}),
    m AS (SELECT least(da.source, db.source) AS source_lo,
                 greatest(da.source, db.source) AS source_hi,
                 p.id_a, p.id_b
          FROM p JOIN documents da ON da.doc_id = p.id_a
                 JOIN documents db ON db.doc_id = p.id_b),
    np AS (SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs
           FROM m GROUP BY 1, 2),
    e AS (SELECT source_lo, source_hi, id_a AS d FROM m
          UNION ALL SELECT source_lo, source_hi, id_b FROM m),
    ndocs AS (SELECT source_lo, source_hi,
                     CAST(count(DISTINCT d) AS BIGINT) AS n_docs
              FROM e GROUP BY 1, 2)
    SELECT np.source_lo, np.source_hi, np.n_pairs, ndocs.n_docs
    FROM np JOIN ndocs USING (source_lo, source_hi)
    ORDER BY np.n_pairs DESC, np.source_lo, np.source_hi
    """,
    doc="cross-source near-duplication matrix: MinHash(32)+LSH(16x2) "
    "candidate pairs at est Jaccard >= 0.5 (the split_leakage_audit "
    "setting), each pair labeled with its documents' source pair "
    "(lexicographic lo/hi; the diagonal = INTRA-source duplication), "
    "aggregated to pair and distinct-doc counts — the provenance "
    "datacard a curator reads to find mirror/scraper sources before "
    "setting per-source mixture weights (beside source_vocab_jaccard, "
    "which prices vocabulary overlap; this prices verbatim overlap).  "
    "Scale: the pair table (bounded by the banded join + hot-bucket "
    "cap) is orders smaller than the corpus, so the two source "
    "lookups are id-keyed joins with the PAIRS as the small side — "
    "never a corpus self-join, and the matrix itself is at most "
    "|sources|^2 rows.",
)
def cross_source_neardup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.with_minhash(
        docs, "text", "doc_id", n_hashes=32, shingle_words=3
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", n_hashes=32, bands=16, max_bucket_size=1000
    ).filter(F.col("est_jaccard") >= _XSRC_EST)
    src = docs.select("doc_id", "source")
    m = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            "id_a",
            "id_b",
        )
    )
    m = barrier(m)
    np_ = m.groupBy("source_lo", "source_hi").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    e = m.select("source_lo", "source_hi", F.col("id_a").alias("d")).unionAll(
        m.select("source_lo", "source_hi", F.col("id_b").alias("d"))
    )
    ndocs = (
        e.distinct()
        .groupBy("source_lo", "source_hi")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    return (
        np_.join(ndocs, ["source_lo", "source_hi"])
        .orderBy(F.desc("n_pairs"), "source_lo", "source_hi")
    )


# ---------------------------------------------------------------------------
# dbscan_srp_edge_recall (round 9): the SRP recall trade, MEASURED.
# ---------------------------------------------------------------------------

@register(
    "dbscan_srp_edge_recall",
    oracle=f"""
    WITH ex AS ({_DBSCAN_EXACT_EDGES}),
    sr AS ({_DBSCAN_SRP_EDGES}),
    c AS (SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
                 CAST((SELECT count(*) FROM sr) AS BIGINT) AS n_srp)
    SELECT n_exact AS n_exact_edges, n_srp AS n_srp_edges,
           n_srp * 1000 // NULLIF(n_exact, 0) AS recall_milli
    FROM c
    """,
    doc="edge-level recall of the SRP-bucketed eps-graph against the "
    "exact all-pairs one — the ann_ivf_recall convention applied to "
    "the DBSCAN candidate generator, turning dbscan_srp_clusters' "
    "documented recall trade into a MEASURED number (standard LSH "
    "methodology: candidate-pair recall at the verification "
    "threshold).  The SRP pairs are verified with the same exact "
    "cosine inside buckets, so they are a SUBSET of the exact pairs "
    "(pytest-pinned) and the ratio needs no intersection join — two "
    "counts and one exact milli floor-division.  The exact side is "
    "the O(n^2) audit join, so the query refuses above max_rows "
    "(the dedup_embedding_cosine convention): this is a CALIBRATION "
    "query you run on a sample to pick the plane/table budget, never "
    "on the full corpus.",
)
def dbscan_srp_edge_recall(
    spark: SparkSession, sf_dir: str, max_rows: int = 100_000
) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"dbscan_srp_edge_recall verifies against the exact O(n^2) "
            f"audit join; corpus has {n} rows > max_rows={max_rows}. "
            f"Run on a sample — recall calibration does not need the "
            f"full corpus."
        )
    a = e.alias("a")
    b = e.alias("b")
    sim = F.expr(PT.dot_double("a.embedding", "b.embedding", S))
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(sim >= F.expr(_DBSCAN_EPS))
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"))
    )
    n_exact = exact.agg(F.count("*").cast("bigint").alias("n_exact_edges"))
    n_srp = _dbscan_srp_edges(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_srp_edges")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_srp))
        .select(
            "n_exact_edges",
            "n_srp_edges",
            # NULLIF guard: a zero-exact-edge sample must be NULL in
            # BOTH engines (DuckDB's // raises on 0; Spark's DIV
            # returns NULL) — engine-agreeing degenerate case.
            F.expr(
                "n_srp_edges * 1000 DIV NULLIF(n_exact_edges, CAST(0 AS BIGINT))"
            ).alias("recall_milli"),
        )
    )


# ---------------------------------------------------------------------------
# dbscan_ivf_clusters (round 9): the loose-eps candidate generator —
# trained coarse cells with multi-probe co-membership.
# ---------------------------------------------------------------------------

_DBSCAN_IVF_PROBES = 2


def _dbscan_ivf_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eps-graph candidates from trained-IVF cell co-membership: each
    point joins its top-P coarse cells (the multi-probe trick applied
    to BOTH sides of the self-join), pairs sharing ANY cell verify
    with the exact cosine.  At the loose DBSCAN eps where SRP recall
    collapses (dbscan_srp_edge_recall: 35-59 milli), cell
    co-membership tracks the density structure directly — neighbors
    land in the same or adjacent Voronoi cells."""
    from ..operators import pq

    e = _t(spark, sf_dir, "embeddings")
    cents = pq.pq_train_codebook(e, m=1, **_TRAIN)[0]
    c = spark.createDataFrame(
        [(j, v) for j, v in enumerate(cents)],
        "centroid_id bigint, c_vec array<double>",
    )
    dot_ec = PT.dot_double("embedding", "c_vec", S)
    w = Window.partitionBy("vec_id").orderBy(
        F.expr(dot_ec).desc(), F.col("centroid_id")
    )
    assigned = (
        e.crossJoin(F.broadcast(c))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DBSCAN_IVF_PROBES)
        .select("vec_id", "embedding", "centroid_id")
    )
    # Pair generation is ID-ONLY, dedup FIRST, verify ONCE: with
    # probes=2 on both sides a co-member pair surfaces up to 4 times,
    # so filtering on the exact cosine before dropDuplicates evaluated
    # the (interpreted, HOF-fold) dot ~2.5x per distinct pair — and the
    # cell equi-join has only k_cb=8 distinct keys whose tiny BYTE size
    # makes AQE coalesce the exchange to ONE task while the pair
    # EXPLOSION (1M rows at sf0.1) is invisible to its size estimate.
    # Deduped id pairs get an explicit repartition (AQE respects a
    # user-specified partition count), then the embeddings attach via
    # two id-keyed joins and the fold runs exactly once per pair on
    # every core.  Same edge set, measured 11.6 s -> ~2 s at sf0.1.
    # At 100 TB: cells are many (k grows with corpus), the id-pair
    # stream is bounded by sum of squared cell sizes x probes^2, and
    # the embedding attach becomes two uniform-key shuffle joins.
    ids = assigned.select("vec_id", "centroid_id")
    a = ids.alias("a")
    b = ids.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"))
        .dropDuplicates(["ia", "ib"])
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ea = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("_va"))
    eb = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("_vb"))
    sim = F.expr(PT.dot_double("_va", "_vb", S))
    # no broadcast hint: Catalyst auto-broadcasts the dictionary-sized
    # table here; at corpus scale these become uniform-key shuffle
    # joins on vec_id — both shapes keep the verify 32-way parallel
    return (
        pairs.join(ea, "ia")
        .join(eb, "ib")
        .filter(sim >= F.expr(_DBSCAN_EPS))
        .select("ia", "ib")
    )


def _dbscan_ivf_oracle(sf_dir: str) -> str:
    from ..operators import pq

    cents = pq.train_book_from_parquet(
        f"{sf_dir}/embeddings.parquet", m=1, **_TRAIN
    )[0]
    values = ",\n               ".join(
        f"(CAST({j} AS BIGINT), CAST([{', '.join(repr(x) for x in v)}] AS DOUBLE[]))"
        for j, v in enumerate(cents)
    )
    edges = f"""
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM (SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_DOT_EC2} DESC,
                                                 c.centroid_id) AS rn
              FROM embeddings e,
                   (SELECT * FROM (VALUES {values}) t(centroid_id, c_vec)) c
            ) e WHERE rn <= {_DBSCAN_IVF_PROBES}) a
      JOIN (SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_DOT_EC2} DESC,
                                                 c.centroid_id) AS rn
              FROM embeddings e,
                   (SELECT * FROM (VALUES {values}) t(centroid_id, c_vec)) c
            ) e WHERE rn <= {_DBSCAN_IVF_PROBES}) b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_DB_DOT} >= {_DBSCAN_EPS}
    """
    return _DBSCAN_ORACLE_TEMPLATE.format(edges=edges)


@register(
    "dbscan_ivf_clusters",
    oracle=_dbscan_ivf_oracle,
    bench=True,
    doc="DBSCAN with trained-IVF candidate generation — the loose-eps "
    "scale path the SRP form's measured recall argues for "
    "(dbscan_srp_edge_recall: 35-59 milli at cos >= 0.35 vs THIS "
    "generator's 789-800 milli, dbscan_ivf_edge_recall — a 15-20x "
    "recall gap at the same exact-verification precision; SRP-LSH is "
    "a tight-threshold tool): coarse k-means cells (the m=1 Lloyd "
    "trainer shared with ann_ivf_trained_topk, centroids broadcast), "
    "every point multi-probed into its top-2 cells on BOTH sides of "
    "the self-join, pairs sharing any cell verified with the exact "
    "fold-ordered cosine, then the SAME shared core/border/components "
    "report (_dbscan_report).  The n^2 join never exists: candidate "
    "work is the sum of squared cell sizes x probes^2, centroids are "
    "dictionary-sized, and the per-point top-P window partitions by "
    "vec_id (never global).  Oracle: callable — trains the "
    "bit-identical centroids through the shared numpy core, inlines "
    "them as VALUES, replays the same multi-probe bucketing, and "
    "feeds the same recursive-CTE closure.",
)
def dbscan_ivf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return _dbscan_report(e, _dbscan_ivf_edges(spark, sf_dir))


def _dbscan_ivf_recall_oracle(sf_dir: str) -> str:
    from ..operators import pq

    cents = pq.train_book_from_parquet(
        f"{sf_dir}/embeddings.parquet", m=1, **_TRAIN
    )[0]
    values = ",\n               ".join(
        f"(CAST({j} AS BIGINT), CAST([{', '.join(repr(x) for x in v)}] AS DOUBLE[]))"
        for j, v in enumerate(cents)
    )
    ivf_edges = f"""
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM (SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_DOT_EC2} DESC,
                                                 c.centroid_id) AS rn
              FROM embeddings e,
                   (SELECT * FROM (VALUES {values}) t(centroid_id, c_vec)) c
            ) e WHERE rn <= {_DBSCAN_IVF_PROBES}) a
      JOIN (SELECT vec_id, embedding, centroid_id FROM (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_DOT_EC2} DESC,
                                                 c.centroid_id) AS rn
              FROM embeddings e,
                   (SELECT * FROM (VALUES {values}) t(centroid_id, c_vec)) c
            ) e WHERE rn <= {_DBSCAN_IVF_PROBES}) b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_DB_DOT} >= {_DBSCAN_EPS}
    """
    return f"""
    WITH ex AS ({_DBSCAN_EXACT_EDGES}),
    iv AS ({ivf_edges}),
    c AS (SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
                 CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_ivf)
    SELECT n_exact AS n_exact_edges, n_ivf AS n_ivf_edges,
           n_ivf * 1000 // NULLIF(n_exact, 0) AS recall_milli
    FROM c
    """


@register(
    "dbscan_ivf_edge_recall",
    oracle=_dbscan_ivf_recall_oracle,
    doc="edge recall of the trained-IVF multi-probe candidate "
    "generator against the exact all-pairs eps-graph — the "
    "calibration twin of dbscan_srp_edge_recall, quantifying why the "
    "IVF path is the loose-eps choice (cell co-membership tracks "
    "density; hyperplane agreement does not at wide angles).  Same "
    "sample-only convention: the exact side keeps the O(n^2) "
    "max_rows refusal.",
)
def dbscan_ivf_edge_recall(
    spark: SparkSession, sf_dir: str, max_rows: int = 100_000
) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"dbscan_ivf_edge_recall verifies against the exact O(n^2) "
            f"audit join; corpus has {n} rows > max_rows={max_rows}. "
            f"Run on a sample."
        )
    a = e.alias("a")
    b = e.alias("b")
    sim = F.expr(PT.dot_double("a.embedding", "b.embedding", S))
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(sim >= F.expr(_DBSCAN_EPS))
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"))
    )
    n_exact = exact.agg(F.count("*").cast("bigint").alias("n_exact_edges"))
    n_ivf = _dbscan_ivf_edges(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_ivf_edges")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_ivf))
        .select(
            "n_exact_edges",
            "n_ivf_edges",
            # same NULLIF zero-guard as dbscan_srp_edge_recall
            F.expr(
                "n_ivf_edges * 1000 DIV NULLIF(n_exact_edges, CAST(0 AS BIGINT))"
            ).alias("recall_milli"),
        )
    )


# ---------------------------------------------------------------------------
# record_linkage_fellegi_sunter (round 10): blocked multi-field
# agreement scoring — probabilistic record linkage, the entity-
# resolution machinery class beside content near-dup.
# ---------------------------------------------------------------------------

_RL_BLOCK_CAP = 1000
#: per-field (agree, disagree) weights in integer MICRO log-odds —
#: ln(m/u) / ln((1-m)/(1-u)) for the documented (m, u) pairs, computed
#: OFFLINE once and fixed as literals (the production shape: weights
#: come from a labeled round or EM, then the scorer is pure integer).
#:   source:    m=.9 u=.45 -> +693147 / -1704748
#:   len band:  m=.8 u=.20 -> +1386294 / -1386294
#:   2nd token: m=.7 u=.14 -> +1609438 / -1053605
#:   last tok:  m=.6 u=.20 -> +1098612 / -693147
_RL_W = {
    "src": (693_147, -1_704_748),
    "len": (1_386_294, -1_386_294),
    "t2": (1_609_438, -1_053_605),
    "last": (1_098_612, -693_147),
}


def _rl_feat_sql(dialect: str) -> str:
    toks = PT.tokens("text", dialect)
    if dialect == S:
        # try_element_at, NOT element_at: under ANSI semantics
        # element_at THROWS on an out-of-bounds index, so a 1-token
        # (no t2) or empty-text document would crash the whole query;
        # DuckDB's _tk[i] returns NULL out of bounds, and the NULL-
        # tolerant agreement CASEs already handle it on both engines.
        t = "try_element_at(_tk, {i})"
    else:
        t = "_tk[{i}]"
    return (
        f"SELECT doc_id, lang, source, n_chars, "
        f"{t.format(i=1)} AS t1, {t.format(i=2)} AS t2, "
        f"{t.format(i=-1)} AS tl "
        f"FROM (SELECT doc_id, lang, source, n_chars, {toks} AS _tk "
        f"      FROM documents) _f"
    )


def _rl_score_sql() -> str:
    """Shared agreement/score SQL over the aliased pair columns (pure
    integer CASEs — dialect-identical)."""
    a_src = "CASE WHEN a_source = b_source THEN 1 ELSE 0 END"
    a_len = (
        "CASE WHEN 10 * abs(a_n - b_n) <= least(a_n, b_n) "
        "THEN 1 ELSE 0 END"
    )
    a_t2 = (
        "CASE WHEN a_t2 IS NOT NULL AND b_t2 IS NOT NULL "
        "AND a_t2 = b_t2 THEN 1 ELSE 0 END"
    )
    a_last = (
        "CASE WHEN a_tl IS NOT NULL AND b_tl IS NOT NULL "
        "AND a_tl = b_tl THEN 1 ELSE 0 END"
    )
    w = _RL_W
    score = (
        f"(CASE WHEN ({a_src}) = 1 THEN {w['src'][0]} ELSE {w['src'][1]} END "
        f"+ CASE WHEN ({a_len}) = 1 THEN {w['len'][0]} ELSE {w['len'][1]} END "
        f"+ CASE WHEN ({a_t2}) = 1 THEN {w['t2'][0]} ELSE {w['t2'][1]} END "
        f"+ CASE WHEN ({a_last}) = 1 THEN {w['last'][0]} ELSE {w['last'][1]} END)"
    )
    return (
        f"CAST({a_src} AS BIGINT) AS agree_source, "
        f"CAST({a_len} AS BIGINT) AS agree_len, "
        f"CAST({a_t2} AS BIGINT) AS agree_t2, "
        f"CAST({a_last} AS BIGINT) AS agree_last, "
        f"CAST({score} AS BIGINT) AS score_micro"
    )


@register(
    "record_linkage_fellegi_sunter",
    oracle=f"""
    WITH f AS ({_rl_feat_sql(D)}),
    blk AS (SELECT lang, t1, CAST(count(*) AS BIGINT) AS bn
            FROM f WHERE t1 IS NOT NULL GROUP BY 1, 2),
    fb AS (SELECT f.* FROM f JOIN blk ON f.lang = blk.lang
             AND f.t1 = blk.t1 WHERE blk.bn <= {_RL_BLOCK_CAP}),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.source AS a_source, b.source AS b_source,
                 a.n_chars AS a_n, b.n_chars AS b_n,
                 a.t2 AS a_t2, b.t2 AS b_t2,
                 a.tl AS a_tl, b.tl AS b_tl
          FROM fb a JOIN fb b
            ON a.lang = b.lang AND a.t1 = b.t1
           AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, {_rl_score_sql()}
    FROM p
    ORDER BY score_micro DESC, id_a, id_b
    LIMIT 100
    """,
    doc="Probabilistic record linkage (Fellegi-Sunter 1969) — the "
    "entity-resolution machinery class beside content near-dup: "
    "candidate pairs come from BLOCKING (equal (lang, first token), "
    "the standard cheap blocking key), each pair is compared on a "
    "FIELD-AGREEMENT VECTOR (same source; length within 10%, exact "
    "integer band test; second token; last token — null-safe "
    "disagree), and scored by summing per-field match weights "
    "ln(m/u) vs ln((1-m)/(1-u)) fixed offline as integer micro "
    "log-odds literals (module constant _RL_W), so the scorer is "
    "pure-integer and hash-exact.  Top-100 by (score DESC, id "
    "pair).  Scale: blocking bounds the self-join the way LSH bands "
    "do — blocks larger than "
    f"{_RL_BLOCK_CAP} records are dropped wholesale (deterministic, "
    "mirrored by the oracle; the hot-bucket-cap convention — a "
    "block that big means the blocking key failed and a better key, "
    "not more compute, is the fix), pair work is sum of squared "
    "block sizes, and the agreement vector is computed map-side "
    "from pre-projected per-record features (no text moves through "
    "the pair join).",
)
def record_linkage_fellegi_sunter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    f = spark.sql(_rl_feat_sql(S)).filter(F.col("t1").isNotNull())
    blk = f.groupBy("lang", "t1").agg(F.count("*").alias("bn"))
    fb = (
        f.join(blk.filter(F.col("bn") <= _RL_BLOCK_CAP), ["lang", "t1"])
        .drop("bn")
    )
    a = fb.select(
        F.col("lang"), F.col("t1"),
        F.col("doc_id").alias("id_a"), F.col("source").alias("a_source"),
        F.col("n_chars").alias("a_n"), F.col("t2").alias("a_t2"),
        F.col("tl").alias("a_tl"),
    )
    b = fb.select(
        F.col("lang"), F.col("t1"),
        F.col("doc_id").alias("id_b"), F.col("source").alias("b_source"),
        F.col("n_chars").alias("b_n"), F.col("t2").alias("b_t2"),
        F.col("tl").alias("b_tl"),
    )
    pairs = a.join(b, ["lang", "t1"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a", "id_b", *[F.expr(p) for p in _rl_select_exprs()]
        )
        .orderBy(F.desc("score_micro"), "id_a", "id_b")
        .limit(100)
    )


def _rl_select_exprs() -> list[str]:
    """The score SQL split into individual select expressions."""
    import re as _re

    return [
        s.strip()
        for s in _re.split(r",\s*(?=CAST)", _rl_score_sql())
        if s.strip()
    ]


# ---------------------------------------------------------------------------
# late_interaction_maxsim (round 10): ColBERT-style late interaction —
# per-TOKEN vectors, MaxSim per query token, summed.  The retrieval
# class between bag-of-words (BM25) and single-vector (bi-encoder).
# ---------------------------------------------------------------------------

_LI_QUERY = ("vector", "merge", "window")  # the fts/_RR_TERMS vocabulary
_LI_DIM = 8


def _li_tok_vec_py(tok: str) -> list[int]:
    """Deterministic per-token integer vector: component i =
    (poly_hash(tok + '#' + i) % 2001) - 1000 — the hash-embedder
    idea applied token-level, exact ints in [-1000, 1000] (twin of
    the in-SQL form; poly_hash parity is pinned by the tlog twin
    tests)."""
    from ..functions import portable as PTT

    def ph(s: str) -> int:
        acc = PTT.POLY_INIT
        for ch in s:
            acc = (acc * PTT.POLY_MULT + ord(ch)) % PTT.P
        return acc

    return [(ph(f"{tok}#{i}") % 2001) - 1000 for i in range(_LI_DIM)]


def _li_doc_dot_sql(dialect: str) -> list[str]:
    """One dot-product expression per query token over the per-token
    component columns tv0..tv7 (computed once per doc token; the
    query vectors fold to literal coefficients)."""
    outs = []
    for q in _LI_QUERY:
        qv = _li_tok_vec_py(q)
        outs.append(
            "(" + " + ".join(f"({qv[i]}) * tv{i}" for i in range(_LI_DIM)) + ")"
        )
    return outs


def _li_tv_sql(dialect: str) -> list[str]:
    from ..functions import portable as PTT

    cat = (
        (lambda i: f"concat(word, '#{i}')")
        if dialect == S
        else (lambda i: f"word || '#{i}'")
    )
    return [
        f"(({PTT.poly_hash(cat(i), dialect)}) % 2001) - 1000"
        for i in range(_LI_DIM)
    ]


@register(
    "late_interaction_maxsim",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({PT.tokens('text', D)}) AS word
      FROM documents
    ),
    tv AS (
      SELECT doc_id,
             {", ".join(f"({e}) AS tv{i}" for i, e in enumerate(_li_tv_sql(D)))}
      FROM toks
    ),
    dots AS (
      SELECT doc_id,
             {", ".join(f"({e}) AS d{j}" for j, e in enumerate(_li_doc_dot_sql(D)))}
      FROM tv
    )
    SELECT doc_id,
           CAST({" + ".join(f"max(d{j})" for j in range(len(_LI_QUERY)))}
                AS BIGINT) AS maxsim_score
    FROM dots GROUP BY doc_id
    ORDER BY maxsim_score DESC, doc_id
    LIMIT 20
    """,
    doc="late-interaction retrieval (the ColBERT MaxSim operator; "
    "Khattab & Zaharia 2020): every TOKEN carries its own vector "
    "(here the deterministic integer hash-embedder, component i = "
    "poly_hash(tok#i) %% 2001 - 1000 — exact ints, so the whole "
    "score is BIGINT arithmetic), and a document's score is "
    "sum over query tokens of MAX over its tokens of the dot "
    "product — fine-grained term matching single-vector bi-encoders "
    "average away, without BM25's exact-match brittleness.  The "
    "retrieval class BETWEEN fts_bm25 and rag_semantic_search in "
    "this repo's ladder.  Scale: per-token vectors and all "
    "query-token dots are MAP-SIDE column expressions (query "
    "vectors fold to literal coefficients — the per-token hash is "
    "computed once and shared across query tokens); the only "
    "shuffle is one groupBy(doc_id) max/sum, partial-aggregated.  "
    "At real scale the token-vector column is precomputed at ingest "
    "(multi-vector index); the plan shape is identical.",
)
def late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.expr(PT.tokens("text", S))).alias("word")
    )
    tv = toks.select(
        "doc_id",
        *[F.expr(e).alias(f"tv{i}") for i, e in enumerate(_li_tv_sql(S))],
    )
    dots = tv.select(
        "doc_id",
        *[
            F.expr(e).alias(f"d{j}")
            for j, e in enumerate(_li_doc_dot_sql(S))
        ],
    )
    score = " + ".join(f"max(d{j})" for j in range(len(_LI_QUERY)))
    return (
        dots.groupBy("doc_id")
        .agg(F.expr(f"CAST({score} AS BIGINT)").alias("maxsim_score"))
        .orderBy(F.desc("maxsim_score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs (round 10): the Hernandez-Stolfo blocking
# alternative — sort on a composite key, pair within a sliding rank
# window.  Complements hash blocking (record_linkage) and LSH banding.
# ---------------------------------------------------------------------------

_SN_WINDOW = 3


@register(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang, source,
             lang || chr(1) || coalesce(({PT.tokens('text', D)})[1], '')
                  || chr(1) || lpad(CAST(n_chars AS VARCHAR), 8, '0') AS sk
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, source,
             row_number() OVER (ORDER BY sk, doc_id) AS rk
      FROM f
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(b.rk - a.rk AS BIGINT) AS window_dist,
             CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS same_lang,
             CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS same_source
      FROM r a JOIN r b
        ON b.rk > a.rk AND b.rk <= a.rk + {_SN_WINDOW}
    )
    SELECT window_dist, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(same_lang) AS BIGINT) AS n_same_lang,
           CAST(sum(same_source) AS BIGINT) AS n_same_source
    FROM p GROUP BY window_dist ORDER BY window_dist
    """,
    doc="sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the "
    "THIRD candidate-generation class beside hash blocking "
    "(record_linkage_fellegi_sunter) and LSH banding "
    "(dedup_minhash_lsh): records sort on a composite key "
    "(lang | first token | zero-padded length) and every pair within "
    f"a {_SN_WINDOW}-rank sliding window becomes a candidate — "
    "robust to blocks hash blocking would split, linear output "
    "(window x n pairs), and the window slides ACROSS block "
    "boundaries (pairs may differ in lang/source — exactly the "
    "near-miss recall SN buys; the report counts them per window "
    "distance, the blocking-quality datacard).  Scale: the global "
    "order comes from the band-parallel two-phase rank "
    "(operators/ranks.py, lang as the monotone band — NEVER a "
    "single-task global sort), and the window self-join is an "
    "EQUI-join: the right side replicates once per offset 1..w and "
    "joins on rank equality, so Spark plans a hash join on a dense "
    "integer key.  Oracle: the plain one-window row_number "
    "formulation — an independent path to the same ranks, exactly "
    "what the gate should prove about the two-phase rank.",
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ranks

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "lang",
        "source",
        # Separator contract: two_phase_rank bands on `lang` but the
        # global order is `sk` — the concatenation separator must sort
        # BELOW every character that can follow `lang`, or a lang that
        # is a proper prefix of another ('en' vs 'eng') would band in
        # a different order than the oracle's global sk sort.  chr(1)
        # sorts below all printable characters; '|' (0x7C) does not.
        F.expr(
            f"concat(lang, chr(1), coalesce(try_element_at({PT.tokens('text', S)}, 1), ''),"
            f" chr(1), lpad(CAST(n_chars AS STRING), 8, '0'))"
        ).alias("sk"),
    )
    r = ranks.two_phase_rank(
        f, order_cols=["sk", "doc_id"], band_col="lang", rank_name="rk"
    ).select("doc_id", "lang", "source", "rk")
    b = (
        r.withColumn(
            "d", F.explode(F.array(*[F.lit(i) for i in range(1, _SN_WINDOW + 1)]))
        )
        .select(
            F.col("doc_id").alias("id_b"),
            F.col("lang").alias("lang_b"),
            F.col("source").alias("source_b"),
            (F.col("rk") - F.col("d")).alias("jr"),
            F.col("d").cast("bigint").alias("window_dist"),
        )
    )
    p = r.join(b, r.rk == b.jr).select(
        "window_dist",
        F.expr("CASE WHEN lang = lang_b THEN 1 ELSE 0 END").alias("same_lang"),
        F.expr(
            "CASE WHEN source = source_b THEN 1 ELSE 0 END"
        ).alias("same_source"),
    )
    return (
        p.groupBy("window_dist")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("same_lang").cast("bigint").alias("n_same_lang"),
            F.sum("same_source").cast("bigint").alias("n_same_source"),
        )
        .orderBy("window_dist")
    )


# ---------------------------------------------------------------------------
# jaro_winkler_titles (round 10): the canonical record-linkage string
# comparator, milli-exact, over sorted-neighborhood candidates.
# ---------------------------------------------------------------------------

_JW_TITLE_CHARS = 40
_JW_TOPK = 50


def jaro_winkler_milli(a: str, b: str) -> int:
    """Milli-exact Jaro-Winkler: the match/transposition counts are
    the standard integer algorithm, the Jaro fraction is ONE exact
    rational floored to milli, and the Winkler boost (p = 1/10,
    prefix <= 4) is integer arithmetic on that milli value — a fully
    specified integer variant (float JW implementations disagree in
    the last ulp across libraries, so both engines run THIS code).
    """
    if a == b:
        return 1000
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_match = [False] * la
    b_match = [False] * lb
    m = 0
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_match[j] and a[i] == b[j]:
                a_match[i] = True
                b_match[j] = True
                m += 1
                break
    if m == 0:
        return 0
    # transpositions: matched chars in order, halved (floor)
    bi = [j for j in range(lb) if b_match[j]]
    t2 = 0  # twice the transposition count
    k = 0
    for i in range(la):
        if a_match[i]:
            if a[i] != b[bi[k]]:
                t2 += 1
            k += 1
    t = t2 // 2
    # jaro = (m/la + m/lb + (m-t)/m) / 3 as ONE exact rational
    num = m * m * lb + m * m * la + (m - t) * la * lb
    den = 3 * la * lb * m
    jaro_milli = num * 1000 // den
    l = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        l += 1
    return jaro_milli + l * (1000 - jaro_milli) // 10


def _jw_titles_py(sf_dir: str) -> list[tuple[int, int, int]]:
    """Sparkless twin: same tokens/sort-key/rank-window blocking as
    sorted_neighborhood_pairs, same milli-exact comparator, top-K by
    (jw DESC, id pair)."""
    import re

    import pyarrow.parquet as pq_

    rows = []
    pf = pq_.ParquetFile(f"{sf_dir}/documents.parquet")
    for batch in pf.iter_batches(columns=["doc_id", "text", "lang", "n_chars"]):
        for did, text, lang, nc in zip(
            batch.column("doc_id").to_pylist(),
            batch.column("text").to_pylist(),
            batch.column("lang").to_pylist(),
            batch.column("n_chars").to_pylist(),
        ):
            toks = [w for w in re.split(PT.PY_WS, (text or "").lower()) if w]
            sk = f"{lang}\x01{toks[0] if toks else ''}\x01{int(nc):08d}"
            title = (text or "")[:_JW_TITLE_CHARS]
            rows.append((sk, int(did), title))
    rows.sort(key=lambda r: (r[0], r[1]))
    out = []
    for i in range(len(rows)):
        for d in range(1, _SN_WINDOW + 1):
            if i + d < len(rows):
                out.append(
                    (
                        rows[i][1],
                        rows[i + d][1],
                        jaro_winkler_milli(rows[i][2], rows[i + d][2]),
                    )
                )
    out.sort(key=lambda r: (-r[2], r[0], r[1]))
    return out[:_JW_TOPK]


def _jw_oracle(sf_dir: str) -> str:
    values = ", ".join(
        f"({a}, {b}, {s})" for a, b, s in _jw_titles_py(sf_dir)
    )
    return f"""
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(jw_milli AS BIGINT) AS jw_milli
    FROM (VALUES {values}) AS t(id_a, id_b, jw_milli)
    ORDER BY jw_milli DESC, id_a, id_b
    """


@register(
    "jaro_winkler_titles",
    oracle=_jw_oracle,
    doc="Jaro-Winkler comparison of document title fields (first "
    f"{_JW_TITLE_CHARS} chars) over sorted-neighborhood candidate "
    "pairs — THE record-linkage string comparator (census/MRL "
    "lineage), completing the comparator set beside set-Jaccard, "
    "LCS alignment, and DTW: JW rewards common prefixes and "
    "tolerates transpositions, exactly the typo/OCR error model of "
    "name fields.  The score is the MILLI-EXACT integer variant "
    "(module function jaro_winkler_milli: standard integer "
    "match/transposition counts, the Jaro fraction as one exact "
    "rational floored to milli, integer Winkler boost) because "
    "float JW implementations disagree in the last ulp — both "
    "engines run the same integer spec.  Candidates come from the "
    "same composite-key rank-window blocking as "
    "sorted_neighborhood_pairs (two-phase rank, offset equi-join); "
    "scoring is an Arrow-batched pandas_udf over the pair stream "
    "with the pure function in the closure.  Top-"
    f"{_JW_TOPK} by (score DESC, id pair).  Oracle: the sparkless "
    "twin replays blocking + comparator in pure Python, emitted as "
    "VALUES (the lcs/dtw dynamic-oracle convention).",
)
def jaro_winkler_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    from ..operators import ranks

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "lang",
        # Separator contract: two_phase_rank bands on `lang` but the
        # global order is `sk` — the concatenation separator must sort
        # BELOW every character that can follow `lang`, or a lang that
        # is a proper prefix of another ('en' vs 'eng') would band in
        # a different order than the oracle's global sk sort.  chr(1)
        # sorts below all printable characters; '|' (0x7C) does not.
        F.expr(
            f"concat(lang, chr(1), coalesce(try_element_at({PT.tokens('text', S)}, 1), ''),"
            f" chr(1), lpad(CAST(n_chars AS STRING), 8, '0'))"
        ).alias("sk"),
        F.expr(
            f"substring(coalesce(text, ''), 1, {_JW_TITLE_CHARS})"
        ).alias("title"),
    )
    r = ranks.two_phase_rank(
        f, order_cols=["sk", "doc_id"], band_col="lang", rank_name="rk"
    ).select("doc_id", "title", "rk")
    b = (
        r.withColumn(
            "d",
            F.explode(F.array(*[F.lit(i) for i in range(1, _SN_WINDOW + 1)])),
        )
        .select(
            F.col("doc_id").alias("id_b"),
            F.col("title").alias("title_b"),
            (F.col("rk") - F.col("d")).alias("jr"),
        )
    )
    pairs = r.join(b, r.rk == b.jr).select(
        F.col("doc_id").alias("id_a"), "title", "id_b", "title_b"
    )

    @pandas_udf("bigint")
    def _jw(a, bcol):
        import pandas as pd

        return pd.Series(
            [
                jaro_winkler_milli(x or "", y or "")
                for x, y in zip(a, bcol)
            ],
            dtype="int64",
        )

    return (
        pairs.select(
            "id_a", "id_b", _jw(F.col("title"), F.col("title_b")).alias("jw_milli")
        )
        .orderBy(F.desc("jw_milli"), "id_a", "id_b")
        .limit(_JW_TOPK)
    )


# ---------------------------------------------------------------------------
# rrf_hybrid_search (round 10): reciprocal-rank fusion of the three
# ranking systems — lexical BM25, conjunctive match, late-interaction
# MaxSim — the standard hybrid-retrieval combiner.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_POOL = 50
_RRF_TOP = 20


def _rrf_maxsim_cte() -> str:
    return f"""
      SELECT doc_id, maxsim_score,
             row_number() OVER (ORDER BY maxsim_score DESC, doc_id) AS rk
      FROM (
        SELECT doc_id,
               CAST({" + ".join(f"max(d{j})" for j in range(len(_LI_QUERY)))}
                    AS BIGINT) AS maxsim_score
        FROM (
          SELECT doc_id,
                 {", ".join(f"({e}) AS d{j}" for j, e in enumerate(_li_doc_dot_sql(D)))}
          FROM (
            SELECT doc_id,
                   {", ".join(f"({e}) AS tv{i}" for i, e in enumerate(_li_tv_sql(D)))}
            FROM (SELECT doc_id, unnest({PT.tokens('text', D)}) AS word
                  FROM documents) _t0
          ) _t1
        ) _t2 GROUP BY doc_id
        ORDER BY maxsim_score DESC, doc_id LIMIT {_RRF_POOL}
      ) _m
    """


@register(
    "rrf_hybrid_search",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    docs2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
    stats AS (SELECT count(*) AS n_docs, CAST(avg(dl) AS DOUBLE) AS avgdl
              FROM docs2),
    hits AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM docs2
      ) WHERE term IN ('vector', 'merge', 'window')
      GROUP BY doc_id, dl, term
    ),
    dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             CAST(floor(
               ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
               * CAST(h.tf AS DOUBLE) * 2.2
               / (CAST(h.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(h.dl AS DOUBLE) / s.avgdl))
               * 1000000.0 + 0.5) AS BIGINT) AS micro
      FROM hits h JOIN dfs d ON h.term = d.term CROSS JOIN stats s
    ),
    bm25 AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id) AS rk
      FROM (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS s
            FROM scored GROUP BY doc_id
            ORDER BY s DESC, doc_id LIMIT {_RRF_POOL}) _b
    ),
    conj AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY nh DESC, doc_id) AS rk
      FROM (SELECT doc_id, count(DISTINCT term) AS nh
            FROM (SELECT doc_id, unnest(toks) AS term FROM docs2) _c0
            WHERE term IN ('vector', 'merge', 'window')
            GROUP BY doc_id ORDER BY nh DESC, doc_id LIMIT {_RRF_POOL}) _c
    ),
    ms AS ({_rrf_maxsim_cte()}),
    u AS (
      SELECT doc_id, rk FROM bm25
      UNION ALL SELECT doc_id, rk FROM conj
      UNION ALL SELECT doc_id, rk FROM ms
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_systems,
           CAST(sum(1000000 // ({_RRF_K} + rk)) AS BIGINT) AS rrf_micro
    FROM u GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOP}
    """,
    doc="reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of "
    "THREE ranking systems over the same query terms — BM25 "
    "(lexical), conjunctive term-count (boolean), and "
    "late-interaction MaxSim (token-vector) — the standard "
    "hybrid-retrieval combiner: each system contributes "
    f"floor(1e6 / ({_RRF_K} + rank)) micro-points for its top-"
    f"{_RRF_POOL} documents (k = {_RRF_K}, the canonical setting), "
    "summed exactly; rank fusion needs NO score normalization "
    "across heterogeneous scales, which is why production hybrid "
    "search ships RRF rather than score blending.  Every "
    "per-system ranking is produced by its own TakeOrdered top-"
    f"{_RRF_POOL} and only THEN ranked by a window over those <= "
    f"{_RRF_POOL} rows (tiny-frame convention — never a global "
    "sort), and the fusion is one uniform doc_id groupBy.  Oracle: "
    "the three ranking CTEs (BM25's gated formulation, the "
    "conjunctive count, the MaxSim chain) fused with the same "
    "integer formula.",
)
def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    bm = fts.bm25_topk(docs, "doc_id", "text", list(_FTS_TERMS), k=_RRF_POOL)
    bm_r = bm.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score"), "doc_id"))
        .cast("bigint")
        .alias("rk"),
    )

    toks = docs.select(
        "doc_id", F.explode(F.expr(PT.tokens("text", S))).alias("term")
    )
    conj = (
        toks.filter(F.col("term").isin(*_FTS_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nh"))
        .orderBy(F.desc("nh"), "doc_id")
        .limit(_RRF_POOL)
    )
    conj_r = conj.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("nh"), "doc_id"))
        .cast("bigint")
        .alias("rk"),
    )

    # maxsim with the RRF pool size (the registered query's own top-k
    # is smaller than the fusion pool)
    tv = docs.select(
        "doc_id", F.explode(F.expr(PT.tokens("text", S))).alias("word")
    ).select(
        "doc_id",
        *[F.expr(e).alias(f"tv{i}") for i, e in enumerate(_li_tv_sql(S))],
    )
    dots = tv.select(
        "doc_id",
        *[F.expr(e).alias(f"d{j}") for j, e in enumerate(_li_doc_dot_sql(S))],
    )
    score = " + ".join(f"max(d{j})" for j in range(len(_LI_QUERY)))
    ms = (
        dots.groupBy("doc_id")
        .agg(F.expr(f"CAST({score} AS BIGINT)").alias("maxsim_score"))
        .orderBy(F.desc("maxsim_score"), "doc_id")
        .limit(_RRF_POOL)
    )
    ms_r = ms.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("maxsim_score"), "doc_id"))
        .cast("bigint")
        .alias("rk"),
    )

    u = bm_r.unionAll(conj_r).unionAll(ms_r)
    return (
        u.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_systems"),
            F.sum(F.expr(f"1000000 DIV ({_RRF_K} + rk)"))
            .cast("bigint")
            .alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(_RRF_TOP)
    )


# ---------------------------------------------------------------------------
# rm3_prf_expansion (round 11): pseudo-relevance-feedback query
# expansion — the classic recall repair between exact keyword search
# and dense retrieval (Lavrenko & Croft 2001; the Anserini default).
# ---------------------------------------------------------------------------

_RM3_TERMS = ("stream", "sort")
_RM3_FB_DOCS = 10
_RM3_FB_TERMS = 10
_RM3_K = 10


def _rm3_oracle() -> str:
    q_in = ", ".join(f"'{t}'" for t in sorted(set(_RM3_TERMS)))
    q_vals = " UNION ALL ".join(
        f"SELECT '{t}' AS term, 7 AS w" for t in sorted(set(_RM3_TERMS))
    )
    micro = """
      CAST(floor(
        ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                 / (CAST(d.df AS DOUBLE) + 0.5))
        * CAST(h.tf AS DOUBLE) * 2.2
        / (CAST(h.tf AS DOUBLE)
           + 1.2 * (0.25 + 0.75 * CAST(h.dl AS DOUBLE) / s.avgdl))
        * 1000000.0 + 0.5) AS BIGINT)
    """
    return f"""
    WITH base AS (
      SELECT doc_id, {PT.tokens('text', D)} AS toks FROM documents
    ),
    d2 AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
    stats AS (SELECT count(*) AS n_docs, CAST(avg(dl) AS DOUBLE) AS avgdl
              FROM d2),
    h1 AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM d2
      ) WHERE term IN ({q_in}) GROUP BY doc_id, dl, term
    ),
    df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM h1 GROUP BY term),
    s1 AS (
      SELECT h.doc_id, h.dl, CAST(sum({micro}) AS BIGINT) AS s_micro
      FROM h1 h JOIN df1 d ON h.term = d.term CROSS JOIN stats s
      GROUP BY h.doc_id, h.dl
    ),
    fb AS (SELECT doc_id, dl, s_micro FROM s1
           ORDER BY s_micro DESC, doc_id LIMIT {_RM3_FB_DOCS}),
    fbrows AS (
      SELECT t.term, t.doc_id, count(*) AS tf, any_value(t.dl) AS dl,
             any_value(t.s_micro) AS s_micro
      FROM (
        SELECT f.doc_id, f.dl, f.s_micro, unnest(d2.toks) AS term
        FROM d2 JOIN fb f USING (doc_id)
      ) t WHERE t.term NOT IN ({q_in})
      GROUP BY t.term, t.doc_id
    ),
    fbt AS (
      SELECT term,
             CAST(sum((tf * s_micro) // dl) AS BIGINT) AS fbw
      FROM fbrows GROUP BY term
    ),
    exp AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY fbw DESC, term) AS rk
        FROM fbt
      ) WHERE rk <= {_RM3_FB_TERMS}
    ),
    wt AS (SELECT term, 3 AS w FROM exp UNION ALL {q_vals}),
    h2 AS (
      SELECT e.doc_id, e.dl, e.term, wt.w, count(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM d2
      ) e JOIN wt USING (term) GROUP BY e.doc_id, e.dl, e.term, wt.w
    ),
    df2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM h2 GROUP BY term)
    SELECT h.doc_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(h.w * {micro}) AS BIGINT) AS rm3_micro
    FROM h2 h JOIN df2 d ON h.term = d.term CROSS JOIN stats s
    GROUP BY h.doc_id
    ORDER BY rm3_micro DESC, doc_id LIMIT {_RM3_K}
    """


@register(
    "rm3_prf_expansion",
    oracle=_rm3_oracle(),
    bench=True,
    doc="RM3 pseudo-relevance feedback (operators/fts.rm3_topk; "
    "Lavrenko & Croft 2001, the Anserini/Lucene default PRF): BM25 "
    f"top-{_RM3_FB_DOCS} feedback docs for the query {_RM3_TERMS} "
    "nominate the top-"
    f"{_RM3_FB_TERMS} score-weighted expansion terms, and the final "
    "ranking interpolates 7/10 original + 3/10 expansion BM25 — the "
    "recall-repair rung between exact keyword search and dense "
    "retrieval in the repo's ladder (bm25 -> +PRF -> conjunctive -> "
    "MaxSim -> bi-encoder -> RRF).  Exactness: per-(doc,term) "
    "partials snap to micro; feedback term weights are BIGINT "
    "tf*s_micro DIV dl sums; every selection boundary has a total "
    "tie order.  Scale: feedback docs and expansion terms STAY IN "
    "THE PLAN (bounded frames, broadcast into both corpus passes — "
    "never collected); each pass prunes postings map-side before "
    "its one (doc,term) shuffle.",
)
def rm3_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fts.rm3_topk(
        docs,
        "doc_id",
        "text",
        list(_RM3_TERMS),
        k=_RM3_K,
        fb_docs=_RM3_FB_DOCS,
        fb_terms=_RM3_FB_TERMS,
    )


# ---------------------------------------------------------------------------
# golden_record_election (round 11): the end of the entity-resolution
# pipeline — matches -> transitive clusters -> one canonical ("golden")
# record per cluster.
# ---------------------------------------------------------------------------


def _golden_oracle(sf_dir: str) -> str:
    """Python-twin oracle: replay blocking + Fellegi-Sunter scoring
    (integer log-odds, identical CASE weights via the shared
    _rl_score_sql constants), union-find the positive-score matches,
    elect per cluster by (n_chars DESC, doc_id ASC), emit VALUES."""
    import collections

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    feats = {
        int(r[0]): r[1:]  # doc_id -> (lang, source, n_chars, t1, t2, tl)
        for r in con.execute(
            f"SELECT doc_id, lang, source, n_chars, t1, t2, tl "
            f"FROM ({_rl_feat_sql(D)}) WHERE t1 IS NOT NULL"
        ).fetchall()
    }
    con.close()
    blocks: dict[tuple, list[int]] = collections.defaultdict(list)
    for did, (lang, _src, _n, t1, _t2, _tl) in feats.items():
        blocks[(lang, t1)].append(did)
    w = _RL_W
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for ids in blocks.values():
        if len(ids) > _RL_BLOCK_CAP:
            continue
        ids = sorted(ids)
        for i, ia in enumerate(ids):
            la, sa, na, _t1a, t2a, tla = feats[ia]
            for ib in ids[i + 1:]:
                lb, sb, nb, _t1b, t2b, tlb = feats[ib]
                score = 0
                score += w["src"][0] if sa == sb else w["src"][1]
                score += (
                    w["len"][0]
                    if 10 * abs(na - nb) <= min(na, nb)
                    else w["len"][1]
                )
                score += (
                    w["t2"][0]
                    if (t2a is not None and t2b is not None and t2a == t2b)
                    else w["t2"][1]
                )
                score += (
                    w["last"][0]
                    if (tla is not None and tlb is not None and tla == tlb)
                    else w["last"][1]
                )
                if score > 0:
                    union(ia, ib)
    clusters: dict[int, list[int]] = collections.defaultdict(list)
    for v in parent:
        clusters[find(v)].append(v)
    rows = []
    for root, members in clusters.items():
        if len(members) < 2:
            continue
        canon = sorted(
            members, key=lambda d: (-feats[d][2], d)
        )[0]
        rows.append(
            (
                min(members),
                len(members),
                canon,
                feats[canon][1],
                sum(feats[m][2] for m in members),
            )
        )
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS cluster_id, "
            "CAST(NULL AS BIGINT) AS n_members, "
            "CAST(NULL AS BIGINT) AS canonical_doc_id, "
            "CAST(NULL AS VARCHAR) AS canonical_source, "
            "CAST(NULL AS BIGINT) AS total_chars WHERE FALSE"
        )
    # SQL-escape the string literal: a source value containing a
    # single quote must not break the rendered VALUES twin
    vals = ", ".join(
        f"({c}, {n}, {d}, '{s.replace(chr(39), chr(39) * 2)}', {t})"
        for c, n, d, s, t in sorted(rows)
    )
    return (
        f"SELECT CAST(cluster_id AS BIGINT) AS cluster_id, "
        f"CAST(n_members AS BIGINT) AS n_members, "
        f"CAST(canonical_doc_id AS BIGINT) AS canonical_doc_id, "
        f"canonical_source, CAST(total_chars AS BIGINT) AS total_chars "
        f"FROM (VALUES {vals}) AS t(cluster_id, n_members, "
        f"canonical_doc_id, canonical_source, total_chars) "
        f"ORDER BY cluster_id"
    )


@register(
    "golden_record_election",
    oracle=_golden_oracle,
    doc="golden-record election — the END of the entity-resolution "
    "pipeline the repo now covers stage by stage: hash blocking + "
    "Fellegi-Sunter integer log-odds scoring "
    "(record_linkage_fellegi_sunter, same shared weight constants), "
    "positive-score matches as edges, TRANSITIVE clusters via "
    "min-label connected components (graph.connected_components — "
    "the star-contraction operator), and one canonical record per "
    "multi-member cluster elected by the survivorship rule "
    "(n_chars DESC, doc_id ASC — richest record wins, id breaks "
    "ties).  Output per cluster: min-id cluster label, member count, "
    "canonical doc + source, total member chars.  Scale: match "
    "generation is the gated blocked-pair machinery (never "
    "all-pairs); clustering contracts geometrically with the "
    "bounded-local finish; election is one per-cluster window over "
    "cluster-sized groups.  Oracle: pure-Python blocking + scoring + "
    "union-find twin as VALUES (the iterative-fixpoint convention).",
)
def golden_record_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    f = spark.sql(_rl_feat_sql(S)).filter(F.col("t1").isNotNull())
    blk = f.groupBy("lang", "t1").agg(F.count("*").alias("bn"))
    fb = f.join(blk.filter(F.col("bn") <= _RL_BLOCK_CAP), ["lang", "t1"]).drop(
        "bn"
    )
    a = fb.select(
        F.col("lang"), F.col("t1"),
        F.col("doc_id").alias("id_a"), F.col("source").alias("a_source"),
        F.col("n_chars").alias("a_n"), F.col("t2").alias("a_t2"),
        F.col("tl").alias("a_tl"),
    )
    b = fb.select(
        F.col("lang"), F.col("t1"),
        F.col("doc_id").alias("id_b"), F.col("source").alias("b_source"),
        F.col("n_chars").alias("b_n"), F.col("t2").alias("b_t2"),
        F.col("tl").alias("b_tl"),
    )
    matches = (
        a.join(b, ["lang", "t1"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[F.expr(p) for p in _rl_select_exprs()])
        .filter(F.col("score_micro") > 0)
        .select("id_a", "id_b")
    )
    cc = graph.connected_components(matches, src="id_a", dst="id_b")
    m = cc.select(F.col("vertex").alias("doc_id"), F.col("label")).join(
        docs.select("doc_id", "source", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    elected = (
        m.withColumn("_rk", F.row_number().over(w))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max(
                F.when(F.col("_rk") == 1, F.col("doc_id"))
            ).cast("bigint").alias("canonical_doc_id"),
            F.max(F.when(F.col("_rk") == 1, F.col("source"))).alias(
                "canonical_source"
            ),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return elected.select(
        F.col("label").cast("bigint").alias("cluster_id"),
        "n_members",
        "canonical_doc_id",
        "canonical_source",
        "total_chars",
    ).orderBy("cluster_id")
