"""Differential test of the served answers: a two-batch warehouse from
the benchmark's dirty-docket generator (perfbench/gen.py), built through
the CLI and served by ``api`` over ``context_from_store``, answers every
route as the generator's independent model says it must.

The second batch rewrites about 30% known keys and lands after a first
backfill, so rewritten fields, parties accumulated across batches and
chunks embedded from an older text are all covered.
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))

from gen import DocketGen, first_chunk  # noqa: E402
from workloads import Expect, Run, check_get, check_list, check_search  # noqa: E402

from legal_data_ingestion_rag_pipeline_spark import api, cli  # noqa: E402


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("served")
    store = str(work / "warehouse")
    gen = DocketGen(11)
    for i, (n, overlap) in enumerate(((300, 0.0), (120, 0.3))):
        path = gen.batch(n, overlap=overlap).write(work / f"batch_{i}.json")
        assert cli.main(["ingest", "--file", str(path), "--store", store]) == 0
        assert cli.main(["rag", "backfill", "--store", store]) == 0
        gen.mark_backfilled()
    ctx = api.context_from_store(spark, store)
    srv = api.make_server(ctx)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1], gen, Expect(gen)
    srv.shutdown()
    srv.server_close()
    t.join(timeout=30)
    for df in ctx.tables.values():
        df.unpersist()
    ctx.embeddings.unpersist()


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
