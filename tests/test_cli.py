"""End-to-end CLI parity: ingest -> rag backfill/search -> quality,
with state persisted in the parquet store across invocations, the
store's one commit point (a failed write leaves the previous
warehouse), and its manifest-schema reads (no Spark job)."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

import pytest

from legal_data_ingestion_rag_pipeline_spark import cli
from legal_data_ingestion_rag_pipeline_spark.sources.sinks import MANIFEST, ParquetStore

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
    # the files it replaces, and must not double-count
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


def _docket_batches(tmp_path) -> tuple[Path, Path]:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
    from gen import DocketGen

    gen = DocketGen(3)
    b1 = gen.batch(80).write(tmp_path / "b1.json")
    return b1, gen.batch(40, overlap=0.2).write(tmp_path / "b2.json")


def _jobs(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it ran under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_reads_take_schema_from_manifest(spark, tmp_path, capsys):
    """After two ingests and a backfill, every table reads with the
    schema its manifest records: the same schema (nullability included)
    and rows as a read that infers them from the parquet footers, and
    no Spark job, where the inferring read runs one."""
    b1, b2 = _docket_batches(tmp_path)
    root = tmp_path / "wh"
    for argv in (["ingest", "--file", str(b1)], ["ingest", "--file", str(b2)], ["rag", "backfill"]):
        assert cli.main([*argv, "--store", str(root)]) == 0
    capsys.readouterr()

    store = ParquetStore(spark, str(root))
    assert store.manifest["schemas"].keys() == store.manifest["tables"].keys()
    assert len(store.manifest["tables"]) == len(cli.TABLES) + 1
    for t, rel in store.manifest["tables"].items():
        read, jobs = _jobs(spark, f"manifest-read-{t}", lambda: store.read(t))
        inferred, inferred_jobs = _jobs(
            spark, f"inferred-read-{t}", lambda: spark.read.parquet(str(root / rel))
        )
        assert (jobs, inferred_jobs > 0) == (0, True), t
        assert read.schema == inferred.schema, t
        assert sorted(read.toJSON().collect()) == sorted(inferred.toJSON().collect()), t


def _warehouse_rows(spark, root: str) -> dict[str, list[str]]:
    store = ParquetStore(spark, root)
    return {t: sorted(store.read(t).toJSON().collect()) for t in store.manifest["tables"]}


def test_ingest_stages_tables_concurrently_under_the_callers_job_group(spark, tmp_path, monkeypatch):
    """``write_all`` stages the tables at once: at least two stages
    overlap in time.  Each stage runs under the job group the caller
    set around ``cli.main``, so that group sees at least one job per
    staged table."""
    b1, _ = _docket_batches(tmp_path)
    stage, spans, groups = ParquetStore._stage, {}, {}

    def timed_stage(self, table, df):
        groups[table] = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        t0 = time.perf_counter()
        try:
            return stage(self, table, df)
        finally:
            spans[table] = (t0, time.perf_counter())

    monkeypatch.setattr(ParquetStore, "_stage", timed_stage)
    argv = ["ingest", "--file", str(b1), "--store", str(tmp_path / "wh")]
    rc, jobs = _jobs(spark, "staged-ingest", lambda: cli.main(argv))
    assert rc == 0
    assert sorted(spans) == sorted(cli.TABLES)
    assert set(groups.values()) == {"staged-ingest"}
    ordered = sorted(spans.values())
    assert any(nxt[0] < prev[1] for prev, nxt in zip(ordered, ordered[1:])), spans
    assert jobs >= len(cli.TABLES)


@pytest.mark.parametrize("fail_at", ["table_write", "manifest_replace"])
def test_failed_ingest_leaves_previous_warehouse(spark, tmp_path, capsys, monkeypatch, fail_at):
    """The second ingest's warehouse write fails while staging
    case_parties (once the cases stage has returned, while the other
    stages run beside it) or at the manifest replace.  The failure
    returns only after every other stage has ended.  Every table still
    reads run 1, ingest_runs has no run 2, the failed ingest leaves
    none of its batch caches persisted and the manifest (schemas
    included) as run 1 committed it, the next ingest commits as run 2,
    and that commit leaves no directory the manifest does not name."""
    b1, b2 = _docket_batches(tmp_path)
    root = tmp_path / "wh"
    ingest = ["ingest", "--file", str(b2), "--store", str(root)]
    assert cli.main(["ingest", "--file", str(b1), "--store", str(root)]) == 0
    run1 = _warehouse_rows(spark, str(root))
    manifest1 = (root / MANIFEST).read_text()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()

    with monkeypatch.context() as m:
        if fail_at == "table_write":
            stage, written, cases_written = ParquetStore._stage, [], threading.Event()

            def failing_stage(self, table, df):
                if table == "case_parties":
                    assert cases_written.wait(timeout=300)
                    raise RuntimeError("injected table write failure")
                path = stage(self, table, df)
                written.append(table)
                if table == "cases":
                    cases_written.set()
                return path

            m.setattr(ParquetStore, "_stage", failing_stage)
        else:
            replace = os.replace

            def failing_replace(src, dst, *args, **kwargs):
                if Path(dst).name == MANIFEST:
                    raise OSError("injected manifest replace failure")
                return replace(src, dst, *args, **kwargs)

            m.setattr(os, "replace", failing_replace)
        with pytest.raises((RuntimeError, OSError), match="injected"):
            cli.main(ingest)
        if fail_at == "table_write":
            assert sorted(written) == sorted(set(cli.TABLES) - {"case_parties"})
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

    assert (root / MANIFEST).read_text() == manifest1
    assert _warehouse_rows(spark, str(root)) == run1
    store = ParquetStore(spark, str(root))
    assert [r.run_id for r in store.read("ingest_runs").collect()] == [1]

    capsys.readouterr()
    assert cli.main(ingest) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["run_id"] == 2
    store = ParquetStore(spark, str(root))
    assert store.run_id == 2 and store.version == 2
    assert sorted(r.run_id for r in store.read("ingest_runs").collect()) == [1, 2]
    on_disk = {p.relative_to(root).as_posix() for p in root.glob("*/v*")}
    assert on_disk == set(store.manifest["tables"].values())
    assert sorted(p.name for p in root.iterdir() if p.is_file()) == [MANIFEST]


def test_failed_quarantine_write_commits_nothing(spark, tmp_path, capsys, monkeypatch):
    """The quarantine is written before the commit.  When its write
    fails on the second ingest (after writing its files), the manifest
    still reads run 1 and ingest_runs has no run 2; the retry commits
    as run 2, and ``quarantine/ingest_run_2`` holds exactly its failed
    records, not the failed attempt's on top."""
    from legal_data_ingestion_rag_pipeline_spark.sources import sinks

    b1, b2 = _docket_batches(tmp_path)
    root = tmp_path / "wh"
    ingest = ["ingest", "--file", str(b2), "--store", str(root)]
    assert cli.main(["ingest", "--file", str(b1), "--store", str(root)]) == 0
    write = sinks.write_quarantine

    def failing_write(bad_rows, out_dir, run_id):
        write(bad_rows, out_dir, run_id)
        raise OSError("injected quarantine write failure")

    with monkeypatch.context() as m:
        m.setattr(sinks, "write_quarantine", failing_write)
        with pytest.raises(OSError, match="injected"):
            cli.main(ingest)
    store = ParquetStore(spark, str(root))
    assert store.run_id == 1 and store.version == 1
    assert [r.run_id for r in store.read("ingest_runs").collect()] == [1]

    capsys.readouterr()
    assert cli.main(ingest) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["run_id"] == 2
    quarantine = root / "quarantine"
    lines = spark.read.text(str(quarantine / "ingest_run_2")).count()
    assert lines == out["summary"]["failed"] > 0
    assert sorted(p.name for p in quarantine.iterdir()) == ["ingest_run_1", "ingest_run_2"]


def test_store_without_manifest_is_rejected(spark, tmp_path):
    """A root holding table directories but no manifest (the layout of
    a store that swapped tables in place), or a manifest that names
    tables but records no schemas (reading it would need an inference
    job), is an error, not an empty warehouse; a root with only
    quarantine output reads as empty."""
    root = tmp_path / "wh"
    spark.range(3).write.parquet(str(root / "cases"))
    with pytest.raises(ValueError, match=f"no {MANIFEST}"):
        ParquetStore(spark, str(root))
    with pytest.raises(ValueError, match=f"no {MANIFEST}"):
        cli.main(["quality", "--store", str(root)])

    schemaless = tmp_path / "schemaless"
    ParquetStore(spark, str(schemaless)).write("cases", spark.range(3))
    manifest = json.loads((schemaless / MANIFEST).read_text())
    del manifest["schemas"]
    (schemaless / MANIFEST).write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match=r"names tables \['cases'\] but no schemas"):
        ParquetStore(spark, str(schemaless))
    with pytest.raises(ValueError, match="no schemas"):
        cli.main(["quality", "--store", str(schemaless)])

    fresh = tmp_path / "fresh"
    spark.range(3).selectExpr("CAST(id AS STRING) AS value").write.text(
        str(fresh / "quarantine" / "ingest_run_1")
    )
    store = ParquetStore(spark, str(fresh))
    assert store.version == 0 and store.run_id == 0 and not store.exists("cases")

