"""RAG layer: chunk -> embed -> store; semantic search (SURVEY §2's
S8/T12/T13/J4/J5/O3/A9, reference rag.py).

The embedder is pluggable behind one two-method interface:

- ``embed(df, text_col, out_col)`` embeds the corpus side as a Spark
  column (DataFrame[text_col] -> DataFrame[+embedding]);
- ``embed_query(text)`` embeds the one search query on the driver and
  returns a plain list, which search scores against the persisted
  embeddings as a literal — no query DataFrame, no join.

Implementations:

- HashEmbedder: deterministic, pure-Spark (token-hash bucket counts,
  unit-normalized) — CI/oracle-safe stand-in with the same contract;
  its query side is ``functions.hashembed.hash_embed``, bit-equal to
  the Spark expression;
- SentenceTransformerEmbedder: the reference's all-MiniLM-L6-v2 via a
  batched pandas_udf with an executor-side lazy model singleton —
  gated behind an import-try because the model library is not in this
  image.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.chunking import CHUNK_OVERLAP, CHUNK_SIZE, chunk_text, snippet
from ..functions.hashembed import dot_double, hash_array, hash_embed, tokens
from ..session import barrier


class HashEmbedder:
    """Deterministic bag-of-token-hash embedding, unit-normalized.

    dim slots = counts of token hashes mod dim; same arithmetic is
    expressible in the DuckDB oracle (driver_queries_similarity) and
    runs in Python as ``hashembed.hash_embed`` for the query.
    """

    def __init__(self, dim: int = 64):
        self.dim = dim

    def embed_query(self, text: str) -> list[float]:
        return hash_embed(text, self.dim)

    def embed(self, df: DataFrame, text_col: str, out_col: str = "embedding") -> DataFrame:
        hashed = barrier(
            df.withColumn("_th", F.expr(hash_array(tokens(text_col))))
        )
        slots = ", ".join(
            f"CAST(size(filter(_th, h -> h % {self.dim} = {d})) AS DOUBLE)"
            for d in range(self.dim)
        )
        emb = barrier(hashed.withColumn("_v", F.expr(f"array({slots})")))
        norm = F.expr(f"sqrt({dot_double('_v', '_v')})")
        return (
            emb.withColumn("_n", norm)
            .withColumn(
                out_col,
                F.when(
                    F.col("_n") > 0, F.expr("transform(_v, x -> x / _n)")
                ).otherwise(F.expr(f"array_repeat(CAST(0.0 AS DOUBLE), {self.dim})")),
            )
            .drop("_th", "_v", "_n")
        )


class SentenceTransformerEmbedder:
    """all-MiniLM-L6-v2 (384-d, normalized) as a batched pandas_udf —
    the production path matching rag.py:26-42. Requires the
    sentence-transformers package on executors."""

    def __init__(self, model_name: str = "sentence-transformers/all-MiniLM-L6-v2", dim: int = 384):
        try:
            import sentence_transformers  # noqa: F401
        except ImportError as e:  # pragma: no cover - not in CI image
            raise NotImplementedError(
                "sentence-transformers is not installed in this environment; "
                "use HashEmbedder for deterministic CI runs"
            ) from e
        self.model_name = model_name
        self.dim = dim
        self._model = None

    def embed_query(self, text: str) -> list[float]:  # pragma: no cover
        if self._model is None:
            from sentence_transformers import SentenceTransformer

            self._model = SentenceTransformer(self.model_name)
        return self._model.encode([text], normalize_embeddings=True)[0].tolist()

    def embed(self, df: DataFrame, text_col: str, out_col: str = "embedding") -> DataFrame:  # pragma: no cover
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, FloatType

        model_name = self.model_name

        @pandas_udf(ArrayType(FloatType()))
        def _embed(texts):
            import pandas as pd
            from sentence_transformers import SentenceTransformer

            global _st_model  # executor-side lazy singleton (rag.py:32-38)
            try:
                model = _st_model
            except NameError:
                model = _st_model = SentenceTransformer(model_name)
            vecs = model.encode(texts.tolist(), normalize_embeddings=True)
            return pd.Series([v.tolist() for v in vecs])

        return df.withColumn(out_col, _embed(F.col(text_col)))


def backfill_chunk_embeddings(
    cases: DataFrame,
    existing_embeddings: DataFrame | None,
    embedder,
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Chunk + embed every case missing from the embeddings table
    (rag.py:90-156): left-anti candidates -> chunk(1200/200) -> the
    empty-text sentinel (0,'') so re-runs don't reselect -> embed ->
    rows keyed (case_number, chunk_id).

    One distributed job replaces the reference's LIMIT-1000 pagination
    loop; at scale the anti-join prunes with a broadcast of embedding
    keys or a shuffled anti, and chunking/embedding are map-side.
    """
    candidates = cases.select("case_number", "docket_text")
    if existing_embeddings is not None:
        candidates = candidates.join(
            existing_embeddings.select("case_number").distinct(),
            "case_number",
            "left_anti",
        )
    chunks = chunk_text(
        candidates, text_col="docket_text", key_cols=("case_number",),
        size=size, overlap=overlap,
    )
    sentinel = (
        candidates.join(chunks.select("case_number").distinct(), "case_number", "left_anti")
        .select(
            "case_number",
            F.lit(0).alias("chunk_id"),
            F.lit("").alias("chunk_text"),
        )
    )
    all_chunks = chunks.select("case_number", "chunk_id", "chunk_text").unionByName(sentinel)
    embedded = embedder.embed(all_chunks, "chunk_text").withColumn(
        "updated_at", F.current_timestamp()
    )
    if existing_embeddings is not None:
        embedded = existing_embeddings.unionByName(embedded, allowMissingColumns=True)
    return embedded


def check_search_bounds(query: str | None, top_k: int) -> None:
    """The search request bounds (api.py:64-74 Pydantic rules -> HTTP
    400): query >= 2 chars, 1 <= top_k <= 50.  Raises ValueError."""
    if query is None or len(query.strip()) < 2:
        raise ValueError("query must be at least 2 characters")
    if not 1 <= top_k <= 50:
        raise ValueError("limit must be between 1 and 50")


def search_dockets(
    view: DataFrame,
    embeddings: DataFrame,
    query: str,
    top_k: int = 5,
    embedder=None,
) -> DataFrame:
    """Semantic search (rag.py:158-227): embed the query on the driver
    (``embedder.embed_query``) -> cosine of every chunk against that
    literal vector -> candidate pool LIMIT max(k*10, 50) ->
    best-chunk-per-case argmax -> top-k cases joined to their
    ``queries.serving_view`` row for the display fields, snippet
    LEFT(chunk_text, 280).

    Raises ValueError on the API's request bounds
    (``check_search_bounds``).
    """
    check_search_bounds(query, top_k)
    if embedder is None:
        embedder = HashEmbedder()
    q_vec = embedder.embed_query(query)
    pool_n = max(top_k * 10, 50)
    scored = embeddings.withColumn("_q", F.lit(q_vec)).withColumn(
        "similarity", F.expr(dot_double("embedding", "_q"))
    )
    pool = scored.orderBy(F.desc("similarity"), "case_number", "chunk_id").limit(pool_n)
    w = Window.partitionBy("case_number").orderBy(F.desc("similarity"), "chunk_id")
    best = (
        pool.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "case_number",
            "chunk_id",
            "similarity",
            snippet().alias("snippet"),
        )
    )
    detail = best.join(
        view.select("case_number", "title", "filed_date", "judge", "court"),
        "case_number",
        "left",
    ).select(
        "case_number",
        "title",
        "filed_date",
        "judge",
        "court",
        "similarity",
        "chunk_id",
        "snippet",
    )
    return detail.orderBy(F.desc("similarity"), "case_number").limit(top_k)
