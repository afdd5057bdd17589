"""HTTP surface mirroring the reference REST API (api.py:154-276)
over the Spark query layer — the last §2.9 parity gap.

Endpoints and contracts (identical request/response shapes and error
codes; verified against the reference's test.http requests in
tests/test_http_api.py):

- ``GET /health``                     -> {"status": "ok", ...}
- ``GET /cases?judge=&year=``         -> list of case summaries,
  400 when neither filter is given (api.py:163-169) or year is
  outside 1900..2100 (the endpoint's Query(ge/le) bounds).
- ``GET /cases/{case_number}``        -> full detail + parties
  ordered (role, name); 404 when unknown (api.py:243-245).
- ``POST /cases/search``              -> semantic search delegating
  to plans.rag.search_dockets; 400 when query < 2 chars or limit
  outside 1..50 (api.py:64-74 Pydantic bounds).

Every error body is ``{"error": "..."}`` like the reference's
exception handlers (api.py:137-150). One documented status-code
deviation: request-validation failures (query < 2 chars, limit outside
1..50, non-integer limit, bad year) return **400** here, where the
reference's FastAPI surfaces Pydantic bound violations as **422** via
the default RequestValidationError handler (its custom handlers cover
only HTTPException and generic Exception). 400 is kept deliberately —
it matches the reference's own documented intent (api.py:64-74
comments) — and tests/test_http_api.py pins the 400s.

The reference runs FastAPI + uvicorn + a psycopg pool; none of those
exist in this image, and none are needed: the stdlib
``ThreadingHTTPServer`` fronts a shared SparkSession, whose scheduler
is already thread-safe — concurrent requests become concurrent Spark
jobs (FAIR-schedulable on a cluster). Serving path:
``context_from_store`` builds and persists one materialized view of
the dockets (``plans.queries.serving_view``: each case with its
display names and sorted parties) plus the chunk embeddings, so a list
or detail request is one filter (plus a top-k) over cached rows and a
search joins only its few best chunks to the view; no request joins
the dim tables.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from .plans import queries as Q
from .plans.rag import HashEmbedder, search_dockets

VIEW = "dockets"  # the serving view's key in ApiContext.tables
LIST_FIELDS = ("case_number", "title", "filed_date", "judge", "court")
DETAIL_FIELDS = (
    "case_number",
    "title",
    "filed_date",
    "docket_text",
    "status",
    "judge",
    "court",
    "case_type",
)
PARTY_FIELDS = ("name", "normalized_name", "role")


@dataclass
class ApiContext:
    """Everything a request needs: the ingested tables with the serving
    view under ``tables[VIEW]`` (derived from the tables when absent),
    the chunk embeddings (None until `rag backfill` has run), and the
    embedder the embeddings were built with."""

    tables: dict[str, DataFrame]
    embeddings: DataFrame | None = None
    embedder: Any = None

    def __post_init__(self) -> None:
        if VIEW not in self.tables:
            self.tables = {**self.tables, VIEW: Q.serving_view(self.tables)}


class _Handler(BaseHTTPRequestHandler):
    ctx: ApiContext  # injected by make_server via subclassing

    # -- plumbing ---------------------------------------------------
    def log_message(self, fmt: str, *args) -> None:  # noqa: A003
        pass  # tests/embedded use; stderr chatter helps nobody

    def _json(self, code: int, payload: Any) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, code: int, msg: str) -> None:
        self._json(code, {"error": msg})

    # -- routing ----------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 (http.server contract)
        try:
            url = urlparse(self.path)
            if url.path == "/health":
                self._json(
                    200,
                    {
                        "status": "ok",
                        "engine": "spark",
                        "tables": sorted(self.ctx.tables.keys() - {VIEW}),
                    },
                )
            elif url.path == "/cases":
                self._list_cases(parse_qs(url.query))
            elif url.path.startswith("/cases/"):
                self._get_case(unquote(url.path[len("/cases/") :]))
            else:
                self._error(404, f"Not found: {url.path}")
        except ValueError as e:  # request-bound violations -> 400
            self._error(400, str(e))
        except Exception as e:  # pragma: no cover - parity handler
            self._error(500, f"Internal server error: {e}")

    def do_POST(self) -> None:  # noqa: N802
        try:
            if urlparse(self.path).path != "/cases/search":
                self._error(404, f"Not found: {self.path}")
                return
            n = int(self.headers.get("Content-Length") or 0)
            try:
                req = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._error(400, "request body must be valid JSON")
                return
            self._search(req)
        except ValueError as e:
            self._error(400, str(e))
        except Exception as e:  # pragma: no cover - parity handler
            self._error(500, f"Internal server error: {e}")

    # -- endpoints --------------------------------------------------
    def _list_cases(self, qs: dict[str, list[str]]) -> None:
        judge = (qs.get("judge") or [None])[0]
        year_s = (qs.get("year") or [None])[0]
        year: int | None = None
        if year_s is not None:
            try:
                year = int(year_s)
            except ValueError:
                raise ValueError(f"year must be an integer, got {year_s!r}")
            if not 1900 <= year <= 2100:
                raise ValueError("year must be between 1900 and 2100")
        if judge is None and year is None:
            raise ValueError(
                "At least one of 'judge' or 'year' must be provided"
            )
        rows = Q.list_cases(self.ctx.tables[VIEW], judge=judge, year=year).collect()
        self._json(
            200, [{f: r[f] for f in LIST_FIELDS} for r in rows]
        )

    def _get_case(self, case_number: str) -> None:
        row = Q.get_case(self.ctx.tables[VIEW], case_number)
        if row is None:
            self._error(404, f"Case {case_number} not found")
            return
        detail = {f: row[f] for f in DETAIL_FIELDS}
        detail["parties"] = [{f: p[f] for f in PARTY_FIELDS} for p in row.parties]
        self._json(200, detail)

    def _search(self, req: dict) -> None:
        if self.ctx.embeddings is None:
            self._error(500, "Internal server error: no embeddings — run rag backfill first")
            return
        query = req.get("query")
        limit = req.get("limit", 5)
        if not isinstance(limit, int) or isinstance(limit, bool):
            raise ValueError("limit must be an integer")
        hits = search_dockets(
            self.ctx.tables[VIEW],
            self.ctx.embeddings,
            query,
            top_k=limit,
            embedder=self.ctx.embedder or HashEmbedder(),
        ).collect()
        self._json(
            200,
            [
                {
                    "case_number": r.case_number,
                    "title": r.title,
                    "filed_date": r.filed_date,
                    "judge": r.judge,
                    "court": r.court,
                    "best_similarity": r.similarity,
                    "best_chunk_id": r.chunk_id,
                    "best_chunk_snippet": r.snippet,
                }
                for r in hits
            ],
        )


def make_server(
    ctx: ApiContext, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; port=0 picks a free port."""

    class Bound(_Handler):
        pass

    Bound.ctx = ctx
    return ThreadingHTTPServer((host, port), Bound)


def context_from_store(spark: SparkSession, store_root: str) -> ApiContext:
    """Load an ApiContext from a CLI-built ParquetStore warehouse.

    A serving process answers many requests over one warehouse
    snapshot, so it pays the display joins once: the serving view
    (under ``tables[VIEW]``) and the chunk embeddings are persisted
    (MEMORY_AND_DISK) and filled here.  Those are the only two caches;
    the raw tables stay lazy parquet readers, which no request reads.
    Unpersisting every value of ``tables`` and the embeddings releases
    the context.
    """
    from pyspark.storagelevel import StorageLevel

    from .cli import _load_tables, _store

    store = _store(spark, store_root)
    tables = _load_tables(store)
    needed = ("cases", "judges", "courts", "case_types", "parties", "case_parties")
    missing = [t for t in needed if t not in tables]
    if missing:
        raise SystemExit(f"missing tables {missing} — run ingest first")
    view = Q.serving_view(tables)
    emb = (
        store.read("case_chunk_embeddings")
        if store.exists("case_chunk_embeddings")
        else None
    )
    for df in (view, emb):
        if df is not None:
            # fill now: no request pays for it or races to fill it
            df.persist(StorageLevel.MEMORY_AND_DISK).count()
    return ApiContext(tables={**tables, VIEW: view}, embeddings=emb, embedder=HashEmbedder())


def main(argv: list[str] | None = None) -> int:
    import argparse

    from .session import build_session

    p = argparse.ArgumentParser(prog="legal_data_ingestion_rag_pipeline_spark.api")
    p.add_argument("--store", default="./warehouse")
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8000)
    args = p.parse_args(argv)
    spark = build_session("legal_rag_api")
    srv = make_server(context_from_store(spark, args.store), args.host, args.port)
    print(json.dumps({"serving": f"http://{args.host}:{srv.server_address[1]}"}))
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
