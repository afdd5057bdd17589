"""Differential test of the served answers: a two-batch warehouse from
the benchmark's dirty-docket generator (perfbench/gen.py), built through
the CLI and served by ``api`` over ``context_from_store``, answers every
route as the generator's independent model says it must.

The driver-resident ``Snapshot`` every route answers from is also
checked against the Spark reference it replaces (``Q.list_cases``,
``Q.get_case``, ``rag.search_dockets``) on the same rows: each answer
must JSON-encode to the same bytes.

The second batch rewrites about 30% known keys and lands after a first
backfill, so rewritten fields, parties accumulated across batches and
chunks embedded from an older text are all covered.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import urllib.request
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))

from gen import DocketGen, first_chunk  # noqa: E402
from workloads import SEARCH_WORDS, Expect, Run, check_get, check_list, check_search  # noqa: E402

from legal_data_ingestion_rag_pipeline_spark import api, cli  # noqa: E402
from legal_data_ingestion_rag_pipeline_spark.functions.hashembed import hash_embed  # noqa: E402
from legal_data_ingestion_rag_pipeline_spark.plans import queries as Q  # noqa: E402
from legal_data_ingestion_rag_pipeline_spark.plans.rag import search_dockets  # noqa: E402


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("served")
    store = str(work / "warehouse")
    gen = DocketGen(11)
    for i, (n, overlap) in enumerate(((300, 0.0), (120, 0.3))):
        path = gen.batch(n, overlap=overlap).write(work / f"batch_{i}.json")
        assert cli.main(["ingest", "--file", str(path), "--store", store]) == 0
        assert cli.main(["rag", "backfill", "--store", store]) == 0
        gen.mark_backfilled()
    return api.context_from_store(spark, store), gen


@pytest.fixture(scope="module")
def served(loaded):
    ctx, gen = loaded
    port, stop = _serve(ctx)
    yield port, gen, Expect(gen)
    stop()


def _serve(ctx):
    srv = api.make_server(ctx)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def stop():
        srv.shutdown()
        srv.server_close()
        t.join(timeout=30)
        assert not t.is_alive()

    return srv.server_address[1], stop


def test_get_every_case(served):
    port, gen, exp = served
    run = Run()
    for key in sorted(exp.cases):
        check_get(port, run, exp, key)
    check_get(port, run, exp, gen.unknown_key())  # must 404


def test_list_every_shape(served):
    port, gen, exp = served
    run = Run()
    years = sorted({int(c.filed_date[:4]) for c in exp.cases.values()})
    for judge in gen.judges:
        check_list(port, run, exp, judge, None)
    for year in years:
        check_list(port, run, exp, None, year)
    for i, judge in enumerate(gen.judges):
        check_list(port, run, exp, judge, years[i % len(years)])


def test_search_self_retrieval(served):
    port, gen, exp = served
    run = Run()
    assert len(exp.probes) >= 30
    stale = [k for k in exp.probes if exp.cases[k].embedded_text != exp.cases[k].text]
    probes = exp.probes[:: len(exp.probes) // 30] + stale[:5]
    assert stale, "no probe embedded from a rewritten case's older text"
    for key in probes:
        check_search(port, run, exp, first_chunk(exp.cases[key].embedded_text), 10, key)


# -- the snapshot against the Spark reference ---------------------------------


def _same(got, want, what):
    assert json.dumps(got) == json.dumps(want), what


def _spark_list(view, judge, year):
    rows = Q.list_cases(view, judge=judge, year=year).collect()
    return [{f: r[f] for f in api.LIST_FIELDS} for r in rows]


def _spark_get(view, key):
    row = Q.get_case(view, key)
    if row is None:
        return None
    detail = {f: row[f] for f in api.DETAIL_FIELDS}
    detail["parties"] = [{f: p[f] for f in api.PARTY_FIELDS} for p in row.parties]
    return detail


def _spark_search(view, emb, query, k, embedder):
    return [
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
        for r in search_dockets(view, emb, query, top_k=k, embedder=embedder).collect()
    ]


@pytest.fixture(scope="module")
def reference(loaded):
    """The Spark reference's frames: the loaded view and embeddings,
    checkpointed so the hundreds of reference queries skip the joins."""
    ctx, gen = loaded
    view = ctx.tables[api.VIEW].localCheckpoint(eager=True)
    emb = ctx.embeddings.localCheckpoint(eager=True)
    yield ctx, gen, view, emb
    view.unpersist()
    emb.unpersist()


def test_snapshot_get_matches_spark(reference):
    ctx, gen, view, _ = reference
    for key in sorted(gen.cases) + [gen.unknown_key()]:
        _same(ctx.snapshot.get_case(key), _spark_get(view, key), key)


def test_snapshot_list_matches_spark(reference):
    ctx, gen, view, _ = reference
    years = sorted({int(c.filed_date[:4]) for c in gen.cases.values()})
    shapes = [(j, None) for j in gen.judges] + [(None, y) for y in years]
    shapes += [(j, y) for j in gen.judges for y in years]
    shapes += [(gen.judges[0].title(), years[0]), ("nobody at all", None)]
    for judge, year in shapes:
        _same(ctx.snapshot.list_cases(judge, year), _spark_list(view, judge, year), (judge, year))


def test_snapshot_search_matches_spark(reference):
    ctx, gen, view, emb = reference
    exp = Expect(gen)
    rng = random.Random(3)
    queries = [first_chunk(exp.cases[k].embedded_text) for k in exp.probes[:: len(exp.probes) // 10]]
    queries += [f"{rng.choice(SEARCH_WORDS)} {rng.choice(SEARCH_WORDS)}" for _ in range(24)]
    assert len(queries) >= 30
    for i, query in enumerate(queries):
        k = (1, 50, 5, 10, 20, 3)[i % 6]
        _same(
            ctx.snapshot.search(query, k, ctx.embedder),
            _spark_search(view, emb, query, k, ctx.embedder),
            (query[:40], k),
        )


def test_snapshot_search_ties_follow_case_then_chunk(spark, reference):
    """Every chunk carries the same vector, more of them than the pool
    holds, in shuffled order: which chunks enter the pool and which one
    is each case's best rest on (case_number, chunk_id) alone."""
    ctx, gen, view, _ = reference
    vec = hash_embed("breach of contract summary judgment", 64)
    rows = [(key, c, f"chunk {c} of {key}", vec) for key in sorted(gen.cases)[:20] for c in range(5)]
    random.Random(5).shuffle(rows)
    emb = spark.createDataFrame(
        rows, "case_number string, chunk_id int, chunk_text string, embedding array<double>"
    )
    snap = api.Snapshot(view, emb)
    for k in (1, 5, 7):
        _same(
            snap.search("contract judgment", k, ctx.embedder),
            _spark_search(view, emb, "contract judgment", k, ctx.embedder),
            k,
        )


def test_empty_embeddings_search_answers_empty(reference):
    ctx, _, view, emb = reference
    empty = api.ApiContext(tables=ctx.tables, embeddings=emb.limit(0), embedder=ctx.embedder)
    assert _spark_search(view, emb.limit(0), "contract dispute", 5, ctx.embedder) == []
    port, stop = _serve(empty)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/cases/search",
            data=json.dumps({"query": "contract dispute", "limit": 5}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 200 and json.loads(resp.read()) == []
    finally:
        stop()
