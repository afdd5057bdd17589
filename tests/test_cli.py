"""End-to-end CLI parity: ingest -> rag backfill/search -> quality,
with state persisted in the parquet store across invocations."""

from __future__ import annotations

import json

import pytest

from legal_data_ingestion_rag_pipeline_spark import cli

from fixtures import DOCKETS


def test_cli_end_to_end(spark, tmp_path, capsys):
    f = tmp_path / "dockets.json"
    f.write_text(json.dumps(DOCKETS))
    store = str(tmp_path / "warehouse")

    assert cli.main(["ingest", "--file", str(f), "--store", store]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["run_id"] == 1
    s = out1["summary"]
    assert s["read"] == s["inserted"] + s["updated"] + s["failed"]
    assert s["read"] == 10 and s["failed"] == 6

    # re-ingest: idempotent — all-updated, run_id bumps
    assert cli.main(["ingest", "--file", str(f), "--store", store]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["run_id"] == 2
    assert out2["summary"]["inserted"] == 0

    assert cli.main(["rag", "backfill", "--store", store]) == 0
    chunks = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert chunks["chunks"] > 0

    # second backfill: reads the table it rewrites — must not crash on
    # the swapped files, and must not double-count
    assert cli.main(["rag", "backfill", "--store", store]) == 0
    chunks2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert chunks2["chunks"] == chunks["chunks"]

    # out-of-bounds search -> JSON error + exit 1 (400 contract)
    assert cli.main(["rag", "search", "--q", "x", "--store", store]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err

    assert cli.main(["rag", "search", "--q", "contract dispute", "--store", store]) == 0
    hits = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert 0 < len(hits) <= 5
    assert "similarity" in hits[0]

    # BM25 keyword search over docket text (the GIN-index use case)
    assert cli.main(["fts", "--q", "complaint text", "--store", store]) == 0
    fhits = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert fhits and all("score" in h and "case_number" in h for h in fhits)
    scores = [h["score"] for h in fhits]
    assert scores == sorted(scores, reverse=True)
    assert cli.main(["fts", "--q", "   ", "--store", store]) == 1
    assert "error" in json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # fixture failure rate is 60% -> threshold breach -> exit 1
    assert cli.main(["quality", "--store", store]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] is False and rep["failed_pct"] == 60.0

    # a clean third run (good records only): --run-id scoping must show
    # THAT run's failed% = 0, not the global 60%
    good = tmp_path / "good.json"
    good.write_text(
        json.dumps([d for d in DOCKETS if d.get("case_number") and d.get("court")][:3])
    )
    assert cli.main(["ingest", "--file", str(good), "--store", store]) in (0, 1)
    run3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rid = run3["run_id"]
    cli.main(["quality", "--run-id", str(rid), "--store", store])
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["failed_pct"] == run3["summary"]["failed"] * 100.0 / run3["summary"]["read"]


def test_cli_selftest(spark, capsys):
    assert cli.main(["ingest", "--selftest"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["selftest"] == "ok"


def test_cli_tlog_format_end_to_end(spark, tmp_path, capsys):
    """--format tlog: the same CLI workflows through the transaction-
    log warehouse — runs accumulate versions, quality reads the
    current state, and every prior run's state time-travels back."""
    from legal_data_ingestion_rag_pipeline_spark.sources.sinks import TlogStore

    f = tmp_path / "dockets.json"
    f.write_text(json.dumps(DOCKETS))
    store_dir = str(tmp_path / "tlwh")
    args = ["--store", store_dir, "--format", "tlog"]

    assert cli.main(["ingest", "--file", str(f), *args]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["run_id"] == 1 and out1["summary"]["inserted"] == 3

    assert cli.main(["ingest", "--file", str(f), *args]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["run_id"] == 2 and out2["summary"]["inserted"] == 0

    # quality reads the tlog-backed current state
    rc = cli.main(["quality", *args])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "failed_pct" in rep
    assert rc == 1  # 6/10 failed > 5% threshold, same as parquet path

    # time travel: run 1's cases state is version 0
    store = TlogStore(spark, store_dir)
    assert store.current_version("cases") == 1
    assert store.read("cases", version=0).count() == 3
    assert store.read("ingest_runs", version=0).count() == 1
    assert store.read("ingest_runs").count() == 2

    # fts works over the tlog store too
    assert cli.main(["fts", "--q", "complaint", "--k", "3", *args]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) >= 1


def test_cli_quality_since_rejects_non_date(spark, tmp_path, capsys):
    """--since takes a YYYY-MM-DD date; anything else is a usage error
    before any table is read."""
    f = tmp_path / "dockets.json"
    f.write_text(json.dumps(DOCKETS))
    store = str(tmp_path / "wh")
    assert cli.main(["ingest", "--file", str(f), "--store", store]) == 0
    capsys.readouterr()
    with pytest.raises(SystemExit) as e:
        cli.main(["quality", "--since", "not-a-date", "--store", store])
    assert e.value.code == 2
    assert "YYYY-MM-DD" in capsys.readouterr().err
    cli.main(["quality", "--since", "2999-01-01", "--store", store])
    assert "failed_pct" in json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_ingest_no_matching_file(spark, tmp_path, capsys):
    """A --file glob that matches nothing is a JSON error and exit 1,
    and no warehouse table is written."""
    store = tmp_path / "wh"
    pattern = str(tmp_path / "nope*.json")
    assert cli.main(["ingest", "--file", pattern, "--store", str(store)]) == 1
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert err == {"error": f"no input file matches {pattern}"}
    assert not store.exists()
