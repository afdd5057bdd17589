"""Live SentenceTransformerEmbedder path (verdict r8 ask #6).

The production embedder (plans/rag.py SentenceTransformerEmbedder,
matching reference rag.py:26-42) is import-gated: the CI sandbox has
no sentence-transformers, so this whole module is skipped there. In
an environment WITH the package (and network/model-cache access),
these tests exercise the real pandas_udf path end-to-end:

- batched Arrow transfer returns 384-d unit-norm float vectors;
- the lazy executor-side singleton is value-stable across batches;
- the full search pipeline (ingest -> chunk -> embed -> backfill ->
  cosine search) returns ranked, snippet-bounded results.

Keep assertions model-agnostic beyond dim/norm — embedding VALUES are
model-version-dependent and must not be pinned.
"""

from __future__ import annotations

import math

import pytest

st = pytest.importorskip(
    "sentence_transformers",
    reason="sentence-transformers not installed; live embedder path "
    "is exercised only where the model is available",
)

from legal_data_ingestion_rag_pipeline_spark.plans.ingest import ingest_batch  # noqa: E402
from legal_data_ingestion_rag_pipeline_spark.plans.queries import serving_view  # noqa: E402
from legal_data_ingestion_rag_pipeline_spark.plans.rag import (  # noqa: E402
    SentenceTransformerEmbedder,
    backfill_chunk_embeddings,
    search_dockets,
)
from legal_data_ingestion_rag_pipeline_spark.sources.readers import raw_from_rows  # noqa: E402

from fixtures import DOCKETS  # noqa: E402


@pytest.fixture(scope="module")
def embedder():
    try:
        e = SentenceTransformerEmbedder()
        # force one driver-local encode so a missing/undownloadable
        # model skips rather than fails deep inside an executor
        st.SentenceTransformer(e.model_name).encode(["probe"])
        return e
    except Exception as exc:  # pragma: no cover - offline sandbox
        pytest.skip(f"model not loadable here: {exc}")


@pytest.fixture(scope="module")
def tables(spark):
    r = ingest_batch(spark, raw_from_rows(spark, DOCKETS))
    return {k: v.localCheckpoint(eager=True) for k, v in r.tables.items()}


def test_live_embed_unit_norm_384(spark, embedder):
    df = spark.createDataFrame(
        [("a", "breach of contract claim"), ("b", "patent infringement suit")],
        "id string, text string",
    )
    rows = embedder.embed(df, "text").select("id", "embedding").collect()
    assert len(rows) == 2
    for r in rows:
        assert len(r.embedding) == embedder.dim == 384
        norm = math.sqrt(sum(float(x) * float(x) for x in r.embedding))
        assert abs(norm - 1.0) < 1e-3  # normalize_embeddings=True
    # different texts must not embed identically
    a, b = rows
    assert a.embedding != b.embedding


def test_live_embed_deterministic_across_batches(spark, embedder):
    df = spark.createDataFrame(
        [(str(i), "the same sentence") for i in range(8)],
        "id string, text string",
    ).repartition(4)  # multiple Arrow batches / singleton reuses
    vecs = [
        r.embedding
        for r in embedder.embed(df, "text").select("embedding").collect()
    ]
    assert all(v == vecs[0] for v in vecs)


def test_live_search_pipeline_end_to_end(spark, tables, embedder):
    emb = backfill_chunk_embeddings(
        tables["cases"], None, embedder
    ).localCheckpoint(eager=True)
    # re-run backfill: idempotent (anti-join sees every chunk present)
    assert (
        backfill_chunk_embeddings(tables["cases"], emb, embedder).count()
        == emb.count()
    )
    res = search_dockets(
        serving_view(tables), emb, "motion to dismiss", top_k=2, embedder=embedder
    ).collect()
    assert 1 <= len(res) <= 2
    assert all(len(r.snippet) <= 280 for r in res)
    sims = [r.similarity for r in res]
    assert sims == sorted(sims, reverse=True)
