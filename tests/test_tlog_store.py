"""The ingest MERGE path through the transaction-log table format
(operators/tlog.TlogStore): every batch is a tlog commit, so each
run's exact table state time-travels back — the reference's
audit-trail story (schema.sql:179-205) at the format layer."""

from __future__ import annotations

from legal_data_ingestion_rag_pipeline_spark.plans.ingest import ingest_batch
from legal_data_ingestion_rag_pipeline_spark.sources.readers import raw_from_rows
from legal_data_ingestion_rag_pipeline_spark.operators.tlog import TlogStore

from fixtures import DOCKETS

BATCH2 = [
    {  # update to an existing case (status flips to closed)
        "case_number": "1:23-cv-00001",
        "court": "S.D.N.Y.",
        "title": "Smith v. Acme Corp (settled)",
        "filed_date": "2023-05-10",
        "parties": "John Smith (plaintiff); Acme Corp (defendant)",
        "case_type": "Civil",
        "judge": "Hon. Maria Rodriguez",
        "docket_text": "Settlement.",
        "status": "Closed",
    },
    {  # brand-new case
        "case_number": "4:24-cv-00100",
        "court": "W.D. Tex.",
        "title": "New v. Case",
        "filed_date": "2024-03-01",
        "parties": "New (plaintiff)",
        "case_type": "civil",
        "judge": "Judge Sarah Chen",
        "docket_text": "Complaint.",
        "status": "active",
    },
]


def _cases_state(df):
    return {
        r.case_number: (r.id, r.status, r.title) for r in df.collect()
    }


def _ingest_into(spark, store, rows, run_id):
    existing = (
        {t: store.read(t) for t in store_tables(store)} or None
        if run_id > 1
        else None
    )
    result = ingest_batch(
        spark, raw_from_rows(spark, rows), existing=existing, run_id=run_id
    )
    versions = store.write_all(result.tables)
    return result, versions


def store_tables(store):
    from legal_data_ingestion_rag_pipeline_spark.cli import TABLES

    return [t for t in TABLES if store.exists(t)]


def test_tlog_store_ingest_time_travel(spark, tmp_path):
    store = TlogStore(spark, str(tmp_path / "wh"))
    r1, v1 = _ingest_into(spark, store, DOCKETS, run_id=1)
    state1 = _cases_state(store.read("cases"))
    r2, v2 = _ingest_into(spark, store, BATCH2, run_id=2)

    assert v1["cases"] == 0 and v2["cases"] == 1
    # the historical version IS batch 1's exact state
    assert _cases_state(store.read("cases", version=0)) == state1
    # current = batch-1 state merged with batch 2 (last-writer-wins)
    cur = _cases_state(store.read("cases"))
    assert cur["1:23-cv-00001"][1] == "closed"
    assert cur["1:23-cv-00001"][0] == state1["1:23-cv-00001"][0]  # id stable
    assert "4:24-cv-00100" in cur
    assert set(cur) == set(state1) | {"4:24-cv-00100"}
    # untouched cases identical to their v0 state
    for cn in set(state1) - {"1:23-cv-00001"}:
        assert cur[cn] == state1[cn]
    # run history accumulated, and ingest_runs time-travels too
    assert store.read("ingest_runs").count() == 2
    assert store.read("ingest_runs", version=0).count() == 1


def test_tlog_store_rerun_idempotent(spark, tmp_path):
    store = TlogStore(spark, str(tmp_path / "wh"))
    r1, _ = _ingest_into(spark, store, DOCKETS, run_id=1)
    r2, _ = _ingest_into(spark, store, DOCKETS, run_id=2)
    assert r2.counts["inserted"] == 0
    assert (
        r2.counts["updated"]
        == r1.counts["inserted"] + r1.counts["updated"]
    )
    s0 = _cases_state(store.read("cases", version=0))
    s1 = _cases_state(store.read("cases"))
    assert s0 == s1  # same file re-ingested: content-identical state


def test_tlog_store_vacuum_retention(spark, tmp_path):
    store = TlogStore(spark, str(tmp_path / "wh"))
    _ingest_into(spark, store, DOCKETS, run_id=1)
    _ingest_into(spark, store, BATCH2, run_id=2)
    cur = _cases_state(store.read("cases"))
    deleted = store.vacuum("cases", keep_from_version=1)
    assert deleted  # v0's overwritten files were reclaimed
    assert _cases_state(store.read("cases")) == cur  # current intact
    try:
        store.read("cases", version=0)
        raise AssertionError("v0 must be unreadable after vacuum")
    except ValueError:
        pass
