"""HTTP wrapper e2e: the reference test.http's six request shapes
(two GET /cases filters, one GET /cases/{id}, three POST search)
plus the 400/404 contracts, served by api.make_server over an
in-memory ingest of the dirty-docket fixture."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from legal_data_ingestion_rag_pipeline_spark.api import VIEW, ApiContext, make_server
from legal_data_ingestion_rag_pipeline_spark.plans.ingest import ingest_batch
from legal_data_ingestion_rag_pipeline_spark.plans.rag import (
    HashEmbedder,
    backfill_chunk_embeddings,
)
from legal_data_ingestion_rag_pipeline_spark.sources.readers import raw_from_rows

from fixtures import DOCKETS


@pytest.fixture(scope="module")
def ctx(spark):
    raw = raw_from_rows(spark, DOCKETS)
    r = ingest_batch(spark, raw)
    tables = {k: v.localCheckpoint(eager=True) for k, v in r.tables.items()}
    embedder = HashEmbedder(dim=32)
    emb = backfill_chunk_embeddings(tables["cases"], None, embedder)
    return ApiContext(
        tables=tables,
        embeddings=emb.localCheckpoint(eager=True),
        embedder=embedder,
    )


@pytest.fixture(scope="module")
def base_url(ctx):
    srv = make_server(ctx)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url: str, payload) -> tuple[int, object]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(base_url):
    code, body = _get(f"{base_url}/health")
    assert code == 200 and body["status"] == "ok"
    assert "cases" in body["tables"]
    assert VIEW not in body["tables"]  # the ingested tables, not the view


def test_list_judge_and_year(base_url):  # test.http request 1
    code, body = _get(f"{base_url}/cases?judge=maria%20rodriguez&year=2023")
    assert code == 200
    assert [r["case_number"] for r in body] == ["1:23-cv-00002"]
    assert set(body[0]) == {"case_number", "title", "filed_date", "judge", "court"}


def test_list_year_only(base_url):  # test.http request 2 shape
    # (the fixture's 2024 rows are all designed to quarantine, so the
    # year with surviving cases is 2023)
    code, body = _get(f"{base_url}/cases?year=2023")
    assert code == 200
    dates = [r["filed_date"] for r in body]
    assert dates == sorted(dates, reverse=True) and len(body) == 3

    code, body = _get(f"{base_url}/cases?year=2024")
    assert code == 200 and body == []  # valid filter, no surviving rows


def test_list_requires_filter_400(base_url):
    code, body = _get(f"{base_url}/cases")
    assert code == 400 and "judge" in body["error"]


def test_list_year_bounds_400(base_url):
    assert _get(f"{base_url}/cases?year=1800")[0] == 400
    assert _get(f"{base_url}/cases?year=abc")[0] == 400


def test_detail_and_404(base_url):  # test.http request 3
    code, body = _get(f"{base_url}/cases/1:23-cv-00002")
    assert code == 200
    assert body["court"] == "S.D.N.Y."
    assert {"name", "normalized_name", "role"} == set(body["parties"][0])
    roles = [p["role"] for p in body["parties"]]
    assert roles == sorted(roles)

    code, body = _get(f"{base_url}/cases/CASE-000123")
    assert code == 404 and "not found" in body["error"]


@pytest.mark.parametrize(
    "query",
    [  # test.http requests 4-6
        "employment discrimination in New York",
        "Summary judgment motions denied in 2023",
        "Disputes between corporations and individual plaintiffs",
    ],
)
def test_search(base_url, query):
    code, body = _post(f"{base_url}/cases/search", {"query": query, "limit": 5})
    assert code == 200 and 1 <= len(body) <= 5
    assert set(body[0]) == {
        "case_number",
        "title",
        "filed_date",
        "judge",
        "court",
        "best_similarity",
        "best_chunk_id",
        "best_chunk_snippet",
    }
    sims = [r["best_similarity"] for r in body]
    assert sims == sorted(sims, reverse=True)
    assert all(
        r["best_chunk_snippet"] is None or len(r["best_chunk_snippet"]) <= 280
        for r in body
    )


def test_search_validation_400(base_url):
    assert _post(f"{base_url}/cases/search", {"query": "x"})[0] == 400
    assert _post(f"{base_url}/cases/search", {"query": "contract", "limit": 0})[0] == 400
    assert _post(f"{base_url}/cases/search", {"query": "contract", "limit": 51})[0] == 400
    assert _post(f"{base_url}/cases/search", {"query": "contract", "limit": "5"})[0] == 400


def test_context_from_store_roundtrip(spark, ctx, tmp_path):
    """api's CLI entry loads its context from a ParquetStore warehouse:
    a store missing core tables exits with a clear error; a populated
    one round-trips tables + embeddings into a servable context."""
    from legal_data_ingestion_rag_pipeline_spark.api import context_from_store
    from legal_data_ingestion_rag_pipeline_spark.sources.sinks import ParquetStore

    with pytest.raises(SystemExit, match="run ingest first"):
        context_from_store(spark, str(tmp_path / "empty"))

    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.write_all(ctx.tables)
    store.write("case_chunk_embeddings", ctx.embeddings)
    loaded = context_from_store(spark, str(tmp_path / "wh"))
    assert set(ctx.tables) <= set(loaded.tables)
    assert loaded.embeddings is not None
    assert loaded.embeddings.count() == ctx.embeddings.count()


def test_context_from_store_persists_tables(spark, tmp_path, capsys):
    """The serving context persists exactly the serving view (under
    tables[VIEW]) and the embeddings, so each request is a bounded plan
    over cached rows; the raw tables stay unpersisted.  Releasing the
    context as a server does (unpersist every table and the embeddings)
    leaves no cached view behind."""
    import json as _json

    from legal_data_ingestion_rag_pipeline_spark import cli
    from legal_data_ingestion_rag_pipeline_spark.api import context_from_store
    import legal_data_ingestion_rag_pipeline_spark.plans.queries as Q

    def cached(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    f = tmp_path / "dockets.json"
    f.write_text(_json.dumps(DOCKETS))
    store = str(tmp_path / "warehouse")
    assert cli.main(["ingest", "--file", str(f), "--store", store]) == 0
    assert cli.main(["rag", "backfill", "--store", store]) == 0
    capsys.readouterr()

    ctx = context_from_store(spark, store)
    view = ctx.tables[VIEW]
    raw = {k: v for k, v in ctx.tables.items() if k != VIEW}
    try:
        assert cached(view)
        assert ctx.embeddings is not None and cached(ctx.embeddings)
        assert "cases" in raw and not any(cached(df) for df in raw.values())
        # the cache is found by plan: a fresh view over the same
        # tables reads it
        assert cached(Q.serving_view(raw))
        assert Q.list_cases(view, year=2023).count() > 0
    finally:
        for df in ctx.tables.values():
            df.unpersist()
        ctx.embeddings.unpersist()
    assert not cached(Q.serving_view(raw))
    assert not cached(ctx.embeddings)
