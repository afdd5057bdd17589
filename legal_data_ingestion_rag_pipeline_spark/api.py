"""HTTP surface mirroring the reference REST API (api.py:154-276)
over the Spark query layer — the last §2.9 parity gap.

Endpoints and contracts (identical request/response shapes and error
codes; verified against the reference's test.http requests in
tests/test_http_api.py):

- ``GET /health``                     -> {"status": "ok", ...} with the
  warehouse version it serves and when it was loaded.
- ``GET /cases?judge=&year=``         -> list of case summaries,
  400 when neither filter is given (api.py:163-169) or year is
  outside 1900..2100 (the endpoint's Query(ge/le) bounds).
- ``GET /cases/{case_number}``        -> full detail + parties
  ordered (role, name); 404 when unknown (api.py:243-245).
- ``POST /cases/search``              -> semantic search by the rules
  of plans.rag.search_dockets; 400 when query < 2 chars or limit
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
``ThreadingHTTPServer`` answers every route from a ``Snapshot`` held on
the driver, so no request runs a Spark job.  The snapshot holds the
rows of the serving view (``plans.queries.serving_view``: each case
with its display names and sorted parties) pre-sorted in list order
with a per-judge index and a dict by case number, and the chunk
embeddings as one column-major numpy matrix.  ``context_from_store``
builds it once per load with ``Snapshot.from_store``: it reads the
store's manifest, pyarrow reads the parquet directories the manifest
names, and Python joins them, so a load needs no SparkSession, runs no
Spark job and serves the version it read; ``main`` starts no JVM.  A
loaded context's Spark frames (``tables``, the view, ``embeddings``)
are planned only when a caller asks for one, and then need the session
the context was loaded with.  Contexts built from in-memory frames
(test fixtures) read the view through ``toArrow()`` instead.  The Spark
plans in ``plans.queries`` and ``plans.rag.search_dockets`` stay as the
reference every snapshot answer equals.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator, Mapping
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .functions.chunking import SNIPPET_CHARS
from .plans import queries as Q
from .plans.rag import HashEmbedder, check_search_bounds
from .plans.rag import search_dockets  # noqa: F401  perfbench/spans.py wraps api.search_dockets

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
CHUNK_FIELDS = ("case_number", "chunk_id", "chunk_text", "embedding")


class Snapshot:
    """The serving view and the chunk embeddings, held on the driver
    and answered with plain Python and numpy: no request runs a Spark
    job.  ``from_store`` builds it from a warehouse's files, the
    constructor from frames.  Each answer is field for field the one
    the Spark reference gives on the same frames (``Q.list_cases``,
    ``Q.get_case``, ``rag.search_dockets``).  Answers share the
    snapshot's dicts, so callers must not mutate them."""

    def __init__(self, view: DataFrame, embeddings: DataFrame | None):
        """From frames, as test fixtures built in memory hold them: the
        view's rows and the embeddings read through ``toArrow()``."""
        rows = view.select(*DETAIL_FIELDS, "judge_name", "parties").toArrow().to_pylist()
        for r in rows:
            r["parties"] = [{f: p[f] for f in PARTY_FIELDS} for p in r["parties"]]
        self._build(rows, None if embeddings is None else embeddings.select(*CHUNK_FIELDS).toArrow())

    @classmethod
    def from_store(cls, store) -> Snapshot:
        """From the parquet directories a ``ParquetStore``'s manifest
        names, read with pyarrow and joined in Python: no Spark job.
        The rows are ``Q.serving_view``'s: dims looked up by id (a null
        or unknown id shows None), ``case_parties`` inner-joined to
        ``parties``, each case's parties in the order
        ``array_sort(struct(role, name, normalized_name))`` gives (a
        null field first), ``filed_date`` as yyyy-MM-dd."""
        dirs = {t: str(store.root / rel) for t, rel in store.manifest["tables"].items()}

        def read(table: str, *cols: str) -> list[list]:
            t = pq.read_table(dirs[table], columns=list(cols))
            return [t.column(c).to_pylist() for c in cols]

        def by_id(table: str, *cols: str) -> dict:
            ids, *vals = read(table, "id", *cols)
            found = dict(zip(ids, zip(*vals)))
            found.pop(None, None)  # a null key joins nothing
            return found

        judges = by_id("judges", "name", "normalized_name")
        courts = by_id("courts", "name")
        case_types = by_id("case_types", "name")
        names = by_id("parties", "name", "normalized_name")
        parties: dict[int, list[tuple]] = {}
        for case_id, party_id, role in zip(*read("case_parties", "case_id", "party_id", "role")):
            if (name := names.get(party_id)) is not None:
                parties.setdefault(case_id, []).append((role, *name))
        parties.pop(None, None)
        for found in parties.values():  # Spark's struct order: field by field, null first
            found.sort(key=lambda p: [(v is not None, v) for v in p])

        rows = []
        cols = ("id", "case_number", "title", "status", "docket_text", "filed_date",
                "judge_id", "court_id", "case_type_id")
        for cid, number, title, status, text, filed, jid, court, ctype in zip(*read("cases", *cols)):
            judge, judge_name = judges.get(jid, (None, None))
            rows.append({
                "case_number": number,
                "title": title,
                "filed_date": None if filed is None else filed.isoformat(),
                "docket_text": text,
                "status": status,
                "judge": judge,
                "court": courts.get(court, (None,))[0],
                "case_type": case_types.get(ctype, (None,))[0],
                "judge_name": judge_name,
                "parties": [
                    {"name": n, "normalized_name": nn, "role": role}
                    for role, n, nn in parties.get(cid, ())
                ],
            })
        emb = dirs.get("case_chunk_embeddings")
        snap = cls.__new__(cls)
        snap._build(rows, None if emb is None else pq.read_table(emb, columns=list(CHUNK_FIELDS)))
        return snap

    def _build(self, rows: list[dict], emb: pa.Table | None) -> None:
        """The serving structures from view rows (``DETAIL_FIELDS``,
        ``judge_name`` and ``PARTY_FIELDS`` parties) and the
        ``CHUNK_FIELDS`` embeddings table (None before `rag backfill`,
        which search answers with 500)."""
        self.embedded = emb is not None
        self.detail: dict[str, dict] = {}
        for r in rows:
            d = {f: r[f] for f in DETAIL_FIELDS}
            d["parties"] = r["parties"]
            self.detail[r["case_number"]] = d
        # list order: filed_date desc with nulls last, then case_number
        # (two stable sorts; Python's code-point order is Spark's UTF-8
        # binary order)
        rows.sort(key=lambda r: r["case_number"])
        rows.sort(key=lambda r: r["filed_date"] or "", reverse=True)
        self.listed = [{f: r[f] for f in LIST_FIELDS} for r in rows]
        self.by_judge: dict[str, list[dict]] = {}
        for r, item in zip(rows, self.listed):
            self.by_judge.setdefault(r["judge_name"], []).append(item)

        self.chunk_keys: list[str] = []
        self.chunk_ids: list[int] = []
        self.chunk_texts: list[str] = []
        self.columns = np.zeros((0, 0))  # d x n: one row per vector slot
        if emb is not None and emb.num_rows:
            self.chunk_keys = emb.column("case_number").to_pylist()
            self.chunk_ids = emb.column("chunk_id").to_pylist()
            self.chunk_texts = emb.column("chunk_text").to_pylist()
            flat = emb.column("embedding").combine_chunks().flatten()
            vectors = np.asarray(flat, dtype=np.float64).reshape(emb.num_rows, -1)
            self.columns = np.ascontiguousarray(vectors.T)

    def list_cases(self, judge: str | None, year: int | None) -> list[dict]:
        """GET /cases rows: the ``Q.list_cases`` filters, order and limit."""
        rows = self.listed if judge is None else self.by_judge.get(judge.lower(), [])
        if year is not None:
            prefix = f"{year}-"
            rows = [r for r in rows if (r["filed_date"] or "").startswith(prefix)]
        return rows[: Q.LIST_LIMIT]

    def get_case(self, case_number: str) -> dict | None:
        """GET /cases/{case_number} detail with parties; None => 404."""
        return self.detail.get(case_number)

    def search(self, query: str | None, top_k: int, embedder) -> list[dict]:
        """POST /cases/search hits by the ``rag.search_dockets`` rules:
        a left-fold dot product in array order, taken one vector slot
        at a time over every chunk (``E @ q`` sums in another order and
        differs in the last bits), a pool of the
        ``max(k*10, 50)`` best chunks by (similarity desc, case_number,
        chunk_id), the first chunk of each case in pool order, then the
        first ``top_k`` cases."""
        check_search_bounds(query, top_k)
        n = len(self.chunk_keys)
        if n == 0:
            return []
        q = np.asarray(embedder.embed_query(query), dtype=np.float64)
        # the Spark fold starts from 0.0, and a slot with q[j] == 0 adds
        # +-0.0, which leaves a sum started at +0.0 as it is: skip it
        sims = np.zeros(n)
        for j in np.flatnonzero(q):
            sims += self.columns[j] * q[j]
        pool_n = max(top_k * 10, 50)
        if n > pool_n:  # cut to every chunk tied with the pool_n-th best
            cand = np.flatnonzero(sims >= np.partition(sims, n - pool_n)[n - pool_n]).tolist()
        else:
            cand = range(n)
        keys, ids = self.chunk_keys, self.chunk_ids
        pool = sorted(cand, key=lambda i: (-sims[i], keys[i], ids[i]))[:pool_n]
        hits: list[dict] = []
        seen: set[str] = set()
        for i in pool:
            if keys[i] in seen:
                continue
            seen.add(keys[i])
            case = self.detail.get(keys[i], {})  # the reference's left join
            text = self.chunk_texts[i]
            hits.append(
                {
                    "case_number": keys[i],
                    "title": case.get("title"),
                    "filed_date": case.get("filed_date"),
                    "judge": case.get("judge"),
                    "court": case.get("court"),
                    "best_similarity": float(sims[i]),
                    "best_chunk_id": ids[i],
                    "best_chunk_snippet": text and text[:SNIPPET_CHARS],
                }
            )
            if len(hits) == top_k:
                break
        return hits


class ApiContext:
    """Everything a request needs: the ingested tables with the serving
    view under ``tables[VIEW]`` (derived from the tables when absent),
    the chunk embeddings (None until `rag backfill` has run), the
    embedder the embeddings were built with, the warehouse ``version``
    they come from (None when not loaded from a store), and the
    ``Snapshot`` of the view and embeddings that every route answers
    from: the one given (``context_from_store`` builds it from the
    store's files), else read here from the frames.  The frames are
    the Spark reference, which no request uses: a loaded context plans
    each one on first access (``StoreFrames``), and ``embeddings`` may be
    given as the function that does so.  Nothing is persisted."""

    def __init__(
        self,
        tables: Mapping[str, DataFrame],
        embeddings: DataFrame | Callable[[], DataFrame | None] | None = None,
        embedder: Any = None,
        version: int | None = None,
        snapshot: Snapshot | None = None,
    ):
        self.loaded_at = datetime.now(timezone.utc).isoformat(timespec="seconds")
        self.tables = tables if VIEW in tables else {**tables, VIEW: Q.serving_view(tables)}
        self._embeddings = embeddings
        self.embedder = embedder
        self.version = version
        self.snapshot = snapshot if snapshot is not None else Snapshot(self.tables[VIEW], self.embeddings)

    @property
    def embeddings(self) -> DataFrame | None:
        """The chunk embeddings frame; given as a function, it is
        planned on each access (``StoreFrames.embeddings`` keeps it)."""
        emb = self._embeddings
        return emb() if callable(emb) else emb


class StoreFrames(Mapping):
    """A ``ParquetStore``'s tables as Spark frames, each planned on first
    access and kept: ``store.read(table)`` for the tables the manifest
    names, ``Q.serving_view`` of them under ``VIEW``.  Membership and
    iteration come from the manifest alone, so ``/health`` and
    ``ApiContext``'s ``VIEW`` check plan nothing."""

    def __init__(self, store, names: tuple[str, ...]):
        self.store = store
        self.names = (*names, VIEW)
        self.frames: dict[str, DataFrame] = {}

    def _frame(self, name: str) -> DataFrame:
        if name not in self.frames:
            if self.store.spark is None:
                raise RuntimeError(
                    f"the {name!r} frame needs a SparkSession: this context was "
                    "loaded without one (context_from_store(None, ...))"
                )
            self.frames[name] = Q.serving_view(self) if name == VIEW else self.store.read(name)
        return self.frames[name]

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self.names:
            raise KeyError(name)
        return self._frame(name)

    def __contains__(self, name: object) -> bool:  # Mapping's would plan the frame
        return name in self.names

    def __iter__(self) -> Iterator[str]:
        return iter(self.names)

    def __len__(self) -> int:
        return len(self.names)

    def embeddings(self) -> DataFrame | None:
        """The chunk embeddings frame; None before `rag backfill`."""
        emb = "case_chunk_embeddings"
        return self._frame(emb) if self.store.exists(emb) else None


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
                        "warehouse_version": self.ctx.version,
                        "loaded_at": self.ctx.loaded_at,
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
            # checked before any read: read(-1) would wait for EOF
            length = (self.headers.get("Content-Length") or "0").strip()
            if not (length.isascii() and length.isdigit()):
                self._error(400, "Content-Length must be a non-negative integer")
                return
            try:
                req = json.loads(self.rfile.read(int(length)) or b"{}")
            except json.JSONDecodeError:
                self._error(400, "request body must be valid JSON")
                return
            if not isinstance(req, dict):
                self._error(400, "request body must be a JSON object")
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
        self._json(200, self.ctx.snapshot.list_cases(judge, year))

    def _get_case(self, case_number: str) -> None:
        detail = self.ctx.snapshot.get_case(case_number)
        if detail is None:
            self._error(404, f"Case {case_number} not found")
            return
        self._json(200, detail)

    def _search(self, req: dict) -> None:
        if not self.ctx.snapshot.embedded:
            self._error(500, "Internal server error: no embeddings — run rag backfill first")
            return
        query = req.get("query")
        if query is not None and not isinstance(query, str):
            raise ValueError("query must be a string")
        limit = req.get("limit", 5)
        if not isinstance(limit, int) or isinstance(limit, bool):
            raise ValueError("limit must be an integer")
        self._json(200, self.ctx.snapshot.search(query, limit, self.ctx.embedder or HashEmbedder()))


def make_server(
    ctx: ApiContext, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; port=0 picks a free port."""

    class Bound(_Handler):
        pass

    Bound.ctx = ctx
    return ThreadingHTTPServer((host, port), Bound)


def context_from_store(spark: SparkSession | None, store_root: str) -> ApiContext:
    """Load an ApiContext from the warehouse version a CLI-built
    ParquetStore's manifest names.

    A serving process answers many requests over one warehouse
    snapshot, so it pays the display joins once: ``Snapshot.from_store``
    reads the files the manifest names and joins them here, and every
    request answers from it.  A load reads the manifest and builds the
    snapshot, and nothing else: it needs no session (``spark`` may be
    None) and runs no Spark job.  The snapshot, the table names and
    ``version`` all come from the one manifest read.  The tables, the
    serving view (under ``tables[VIEW]``) and the embeddings, the Spark
    reference, are planned with ``spark`` when first asked for
    (``StoreFrames``); nothing is persisted in Spark, so a later
    backfill in the same session reads its own files, not a cache.
    """
    from .cli import TABLES
    from .sources.sinks import ParquetStore

    store = ParquetStore(spark, store_root)
    needed = ("cases", "judges", "courts", "case_types", "parties", "case_parties")
    missing = [t for t in needed if not store.exists(t)]
    if missing:
        raise SystemExit(f"missing tables {missing} — run ingest first")
    frames = StoreFrames(store, tuple(t for t in TABLES if store.exists(t)))
    return ApiContext(
        tables=frames,
        embeddings=frames.embeddings,
        embedder=HashEmbedder(),
        version=store.version,
        snapshot=Snapshot.from_store(store),
    )


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(prog="legal_data_ingestion_rag_pipeline_spark.api")
    p.add_argument("--store", default="./warehouse")
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8000)
    args = p.parse_args(argv)
    srv = make_server(context_from_store(None, args.store), args.host, args.port)
    print(json.dumps({"serving": f"http://{args.host}:{srv.server_address[1]}"}), flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
