"""HTTP wrapper e2e: the reference test.http's six request shapes
(two GET /cases filters, one GET /cases/{id}, three POST search)
plus the 400/404 contracts, served by api.make_server over an
in-memory ingest of the dirty-docket fixture."""

from __future__ import annotations

import contextlib
import json
import socket
import sys
import threading
import urllib.error
import urllib.request
from datetime import datetime
from pathlib import Path

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


@contextlib.contextmanager
def _serving(ctx):
    srv = make_server(ctx)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.fixture(scope="module")
def base_url(ctx):
    with _serving(ctx) as url:
        yield url


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


def test_health(spark, base_url, tmp_path, capsys):
    code, body = _get(f"{base_url}/health")
    assert code == 200 and body["status"] == "ok"
    assert "cases" in body["tables"]
    assert VIEW not in body["tables"]  # the ingested tables, not the view
    assert body["warehouse_version"] is None  # not loaded from a store
    datetime.fromisoformat(body["loaded_at"])

    # a server loaded from a store reports the version it serves; a
    # load after another ingest serves the next one
    from legal_data_ingestion_rag_pipeline_spark import cli
    from legal_data_ingestion_rag_pipeline_spark.api import context_from_store

    f = tmp_path / "dockets.json"
    f.write_text(json.dumps(DOCKETS))
    store = str(tmp_path / "warehouse")
    seen = []
    for _ in range(2):
        assert cli.main(["ingest", "--file", str(f), "--store", store]) == 0
        with _serving(context_from_store(spark, store)) as url:
            code, body = _get(f"{url}/health")
        assert code == 200
        seen.append((body["warehouse_version"], datetime.fromisoformat(body["loaded_at"])))
    capsys.readouterr()
    (v1, t1), (v2, t2) = seen
    assert (v1, v2) == (1, 2) and t1 <= t2


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
    for body in ([], "hello", {"query": 123}, {"query": ["ab"]}):
        code, payload = _post(f"{base_url}/cases/search", body)
        assert code == 400 and "error" in payload, body


@pytest.mark.parametrize("length", ["-1", "abc"])
def test_search_bad_content_length_400(base_url, length):
    """A negative or non-numeric Content-Length answers 400 before the
    body is read: read(-1) would block until the client hangs up."""
    host, port = base_url.split("//")[1].split(":")
    with socket.create_connection((host, int(port)), timeout=5) as s:
        s.sendall(
            f"POST /cases/search HTTP/1.1\r\nHost: {host}\r\n"
            f"Content-Length: {length}\r\n\r\n{{}}".encode()
        )
        resp = b""
        while chunk := s.recv(4096):
            resp += chunk
    head, _, body = resp.partition(b"\r\n\r\n")
    assert head.split(b" ")[1] == b"400", head
    assert json.loads(body) == {
        "error": "Content-Length must be a non-negative integer"
    }


def test_context_from_store_roundtrip(spark, ctx, tmp_path):
    """api's CLI entry loads its context from a ParquetStore warehouse:
    a store missing core tables exits with a clear error; a populated
    one round-trips tables + embeddings into a servable context, each
    read from the version directory the manifest names."""
    from legal_data_ingestion_rag_pipeline_spark.api import context_from_store
    from legal_data_ingestion_rag_pipeline_spark.sources.sinks import MANIFEST, ParquetStore

    with pytest.raises(SystemExit, match="run ingest first"):
        context_from_store(spark, str(tmp_path / "empty"))
    assert not (tmp_path / "empty").exists()  # reading creates no store

    root = tmp_path / "wh"
    store = ParquetStore(spark, str(root))
    store.write_all(ctx.tables, run_id=7)
    store.write("case_chunk_embeddings", ctx.embeddings)
    manifest = json.loads((root / MANIFEST).read_text())
    assert manifest["version"] == 2 and manifest["run_id"] == 7
    assert manifest["tables"] == {
        **{t: f"{t}/v1" for t in ctx.tables},
        "case_chunk_embeddings": "case_chunk_embeddings/v2",
    }
    assert manifest["schemas"].keys() == manifest["tables"].keys()
    assert {p.relative_to(root).as_posix() for p in root.glob("*/*")} == {
        *manifest["tables"].values()
    }

    loaded = context_from_store(spark, str(root))
    assert loaded.version == 2
    assert set(ctx.tables) <= set(loaded.tables)
    assert loaded.embeddings is not None
    assert loaded.embeddings.count() == ctx.embeddings.count()
    assert loaded.tables["cases"].count() == ctx.tables["cases"].count()


def test_context_from_store_caches_nothing(spark, tmp_path, capsys):
    """The serving context reads the serving view and the embeddings to
    the driver once (its Snapshot: one entry per view row and one per
    embeddings row) and persists nothing in Spark: neither frame is
    cached, and the lazy view still answers the Spark reference."""
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
    assert ctx.embeddings is not None
    assert not any(cached(df) for df in ctx.tables.values())
    assert not cached(ctx.embeddings)
    assert len(ctx.snapshot.detail) == len(ctx.snapshot.listed) == view.count()
    assert len(ctx.snapshot.chunk_keys) == ctx.embeddings.count() > 0
    assert Q.list_cases(view, year=2023).count() > 0


def test_context_after_later_backfill_serves_every_chunk(spark, tmp_path, capsys):
    """A context loaded after a second ingest and backfill in the same
    session serves every chunk on disk, not the chunks an earlier
    context in that session saw."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
    from gen import DocketGen

    from legal_data_ingestion_rag_pipeline_spark import cli
    from legal_data_ingestion_rag_pipeline_spark.api import context_from_store

    gen = DocketGen(5)
    store = str(tmp_path / "warehouse")
    chunks = 0
    for i, n in enumerate((200, 100)):
        path = gen.batch(n).write(tmp_path / f"batch_{i}.json")
        assert cli.main(["ingest", "--file", str(path), "--store", store]) == 0
        assert cli.main(["rag", "backfill", "--store", store]) == 0
        chunks += gen.mark_backfilled()
        ctx = context_from_store(spark, store)
        assert len(ctx.snapshot.chunk_keys) == ctx.embeddings.count() == chunks
    capsys.readouterr()


def _warehouse(tmp_path, capsys) -> Path:
    """The fixture's dockets ingested and backfilled through the CLI."""
    from legal_data_ingestion_rag_pipeline_spark import cli

    f = tmp_path / "dockets.json"
    f.write_text(json.dumps(DOCKETS))
    store = tmp_path / "warehouse"
    assert cli.main(["ingest", "--file", str(f), "--store", str(store)]) == 0
    assert cli.main(["rag", "backfill", "--store", str(store)]) == 0
    capsys.readouterr()
    return store


#: /health's ``tables`` for a store the CLI ingested: every table but the view
STORE_TABLES = [
    "case_parties", "case_types", "cases", "court_name_variations", "courts",
    "ingest_errors", "ingest_runs", "judge_name_variations", "judges",
    "parties", "party_name_variations",
]


def _serves_every_route(url: str, version: int) -> None:
    code, body = _get(f"{url}/health")
    assert code == 200 and body["tables"] == STORE_TABLES
    assert body["warehouse_version"] == version
    code, body = _get(f"{url}/cases?judge=maria%20rodriguez&year=2023")
    assert code == 200 and [r["case_number"] for r in body] == ["1:23-cv-00002"]
    code, body = _get(f"{url}/cases/1:23-cv-00002")
    assert code == 200 and body["court"] == "S.D.N.Y." and body["parties"]
    assert _get(f"{url}/cases/CASE-000123")[0] == 404
    code, body = _post(f"{url}/cases/search", {"query": "employment discrimination", "limit": 5})
    assert code == 200 and 1 <= len(body) <= 5


def test_context_from_store_runs_no_spark_job(spark, tmp_path, capsys, monkeypatch):
    """A load builds its snapshot from the files the manifest names,
    with no Spark job, and serves the version that manifest records.
    Neither the load nor a request of any route plans a Spark frame (no
    ``ParquetStore.read``, no ``Q.serving_view``), and a context loaded
    without a session serves every route; its frames are planned only
    when asked for."""
    from legal_data_ingestion_rag_pipeline_spark.api import context_from_store
    import legal_data_ingestion_rag_pipeline_spark.plans.queries as Q
    from legal_data_ingestion_rag_pipeline_spark.sources.sinks import MANIFEST, ParquetStore

    store = _warehouse(tmp_path, capsys)
    version = json.loads((store / MANIFEST).read_text())["version"]
    assert version == 2

    sc = spark.sparkContext
    group = "context-load-jobs"
    sc.setJobGroup(group, group)
    try:
        ctx = context_from_store(spark, str(store))
    finally:
        sc.setJobGroup(None, None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert ctx.version == version
    assert ctx.snapshot.detail and ctx.snapshot.chunk_keys

    planned = {"read": 0, "serving_view": 0}

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            planned[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(ParquetStore, "read", counted("read", ParquetStore.read))
    monkeypatch.setattr(Q, "serving_view", counted("serving_view", Q.serving_view))
    with _serving(context_from_store(spark, str(store))) as url:
        _serves_every_route(url, version)
    assert planned == {"read": 0, "serving_view": 0}
    with _serving(context_from_store(None, str(store))) as url:
        _serves_every_route(url, version)

    ctx = context_from_store(spark, str(store))
    assert ctx.embeddings.count() == len(ctx.snapshot.chunk_keys)
    assert ctx.tables["cases"].count() == len(ctx.snapshot.detail)
    assert planned == {"read": 2, "serving_view": 0}
    with pytest.raises(RuntimeError, match="needs a SparkSession"):
        context_from_store(None, str(store)).tables[VIEW]


def test_api_main_starts_no_jvm(tmp_path, capsys):
    """``python -m ...api`` serves a store with no JVM in its process
    tree: it reads the manifest and the parquet files, and starts no
    Spark session."""
    import os
    import queue
    import subprocess

    proc_root = Path("/proc")
    if not (proc_root / "self" / "task").exists():
        pytest.skip("needs /proc to walk the server's process tree")
    store = _warehouse(tmp_path, capsys)
    proc = subprocess.Popen(
        [sys.executable, "-m", "legal_data_ingestion_rag_pipeline_spark.api",
         "--store", str(store), "--host", "127.0.0.1", "--port", "0"],
        cwd=Path(__file__).resolve().parents[1],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        env={k: v for k, v in os.environ.items() if k != "PYTHONUNBUFFERED"},
    )

    def tree(pid: int) -> list[int]:
        try:
            children = (proc_root / str(pid) / "task" / str(pid) / "children").read_text().split()
        except FileNotFoundError:
            return []
        return [pid] + [p for c in children for p in tree(int(c))]

    def names() -> set[str]:
        found = set()
        for pid in tree(proc.pid):
            with contextlib.suppress(FileNotFoundError):
                found.add((proc_root / str(pid) / "comm").read_text().strip())
        return found

    try:
        lines: queue.Queue = queue.Queue()
        threading.Thread(target=lambda: lines.put(proc.stdout.readline()), daemon=True).start()
        url = json.loads(lines.get(timeout=120))["serving"]
        assert _get(f"{url}/health")[0] == 200
        code, body = _post(f"{url}/cases/search", {"query": "employment discrimination", "limit": 5})
        assert code == 200 and body
        assert "java" not in names()
    finally:
        proc.terminate()
        proc.wait(timeout=30)


def _edge_frames(spark) -> dict:
    """A hand-built warehouse of the rows the joins treat specially:
    a case without parties; one with null judge, court and filed date;
    one whose judge id names no judge; a party link to a missing party
    and one with null ids; parties that tie on role; null roles and
    names.  Every column is nullable, as the manifest records them."""
    from datetime import date

    def frame(schema, rows):
        return spark.createDataFrame(rows, schema)

    dim = "id bigint, name string, normalized_name string"
    return {
        "cases": frame(
            "id bigint, case_number string, title string, status string, docket_text string, "
            "filed_date date, judge_id bigint, court_id bigint, case_type_id bigint",
            [
                (1, "C-1", "Zed v. Acme", "open", "one", date(2023, 5, 1), 1, 1, 1),
                (2, "C-2", "No parties", "closed", "two", date(2023, 1, 2), 1, 2, 2),
                (3, "C-3", None, None, None, None, None, None, None),
                (4, "C-4", "Unknown judge", "open", "four", date(2023, 5, 1), 7, 1, 9),
            ],
        ),
        "judges": frame(dim, [(1, "Maria Rodriguez", "maria rodriguez"), (None, "Ghost", "ghost")]),
        "courts": frame(dim, [(1, "S.D.N.Y.", "sdny"), (2, None, None)]),
        "case_types": frame(dim, [(1, "civil", "civil"), (2, "criminal", "criminal")]),
        "parties": frame(
            dim,
            [
                (10, "Zed Corp", "zed corp"),
                (11, "Acme Inc", "acme inc"),
                (12, None, "nameless"),
                (13, "Smith", None),
                (14, "Jones", "jones"),
            ],
        ),
        "case_parties": frame(
            "case_id bigint, party_id bigint, role string",
            [
                (1, 10, "plaintiff"),
                (1, 11, "plaintiff"),
                (1, 14, "defendant"),
                (1, 12, "plaintiff"),
                (1, 13, None),
                (1, 99, "defendant"),  # no party 99
                (3, 14, None),
                (3, 12, None),
                (None, 10, "plaintiff"),
                (4, None, "plaintiff"),
            ],
        ),
    }


def test_snapshot_from_store_matches_frames_on_edge_rows(spark, tmp_path):
    """``Snapshot.from_store`` answers as the snapshot of
    ``Q.serving_view`` over the same rows does, null and missing keys
    included; a store without embeddings serves list and get, and
    answers search with 500."""
    from legal_data_ingestion_rag_pipeline_spark.api import Snapshot, context_from_store
    import legal_data_ingestion_rag_pipeline_spark.plans.queries as Q
    from legal_data_ingestion_rag_pipeline_spark.sources.sinks import ParquetStore

    frames = _edge_frames(spark)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.write_all(frames, run_id=1)
    got = Snapshot.from_store(ParquetStore(spark, str(tmp_path / "wh")))
    want = Snapshot(Q.serving_view(frames), None)

    assert got.detail.keys() == want.detail.keys() == {"C-1", "C-2", "C-3", "C-4"}
    for key in want.detail:
        assert json.dumps(got.detail[key]) == json.dumps(want.detail[key]), key
    assert json.dumps(got.listed) == json.dumps(want.listed)
    assert list(got.by_judge) == list(want.by_judge)
    assert json.dumps(list(got.by_judge.values())) == json.dumps(list(want.by_judge.values()))
    # Spark's struct order puts a null field first
    assert [(p["role"], p["name"]) for p in got.detail["C-1"]["parties"]] == [
        (None, "Smith"),
        ("defendant", "Jones"),
        ("plaintiff", None),
        ("plaintiff", "Acme Inc"),
        ("plaintiff", "Zed Corp"),
    ]
    assert got.detail["C-2"]["parties"] == [] and got.chunk_keys == []

    ctx = context_from_store(spark, str(tmp_path / "wh"))
    assert ctx.embeddings is None
    with _serving(ctx) as url:
        code, body = _get(f"{url}/cases?judge=Maria%20Rodriguez")
        assert code == 200 and [r["case_number"] for r in body] == ["C-1", "C-2"]
        code, body = _get(f"{url}/cases/C-3")
        assert code == 200 and body["filed_date"] is None and body["judge"] is None
        code, body = _post(f"{url}/cases/search", {"query": "contract", "limit": 5})
        assert code == 500 and "rag backfill" in body["error"]
