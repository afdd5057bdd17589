"""Pins for public API-surface functions whose only consumers are
downstream users (the machinery-coverage tool flagged them as having
neither a gated query nor a direct pytest): argmax_per_group,
upsert.batch_upsert_counts, ingest.merge_variations,
linededup.segment_lines."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_argmax_per_group_total_order(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators.topk import (
        argmax_per_group,
    )

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 10), ("a", 3, 5), ("b", 7, 1)],
        "g: string, id: bigint, score: bigint",
    )
    best = argmax_per_group(
        df, ["g"], [F.desc("score"), F.asc("id")]
    ).collect()
    got = {r.g: r.id for r in best}
    assert got == {"a": 1, "b": 7}  # tie on score -> lowest id wins
    ranked = argmax_per_group(
        df, ["g"], [F.desc("score"), F.asc("id")], keep_rank_col="rk"
    )
    assert set(ranked.columns) >= {"g", "id", "score", "rk"}


def test_batch_upsert_counts_first_is_insert(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators.upsert import (
        batch_upsert_counts,
    )

    batch = spark.createDataFrame(
        [("k1", 1), ("k1", 2), ("k2", 3)], "k: string, seq: bigint"
    )
    got = {r.k: r.n_occurrences for r in
           batch_upsert_counts(batch, ["k"], "seq").collect()}
    assert got == {"k1": 2, "k2": 1}


def test_merge_variations_additive_counters(spark):
    from legal_data_ingestion_rag_pipeline_spark.plans.ingest import (
        merge_variations,
    )

    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)
    t2 = dt.datetime(2026, 3, 1)
    schema = (
        "field: string, seen_count: bigint, "
        "first_seen_at: timestamp, last_seen_at: timestamp"
    )
    existing = spark.createDataFrame([("court", 3, t0, t1)], schema)
    batch = spark.createDataFrame(
        [("court", 2, t1, t2), ("judge", 1, t2, t2)], schema
    )
    got = {
        r.field: (r.seen_count, r.first_seen_at, r.last_seen_at)
        for r in merge_variations(existing, batch, ["field"]).collect()
    }
    assert got["court"] == (5, t0, t2)  # counters add, min/max stamps
    assert got["judge"] == (1, t2, t2)  # batch-only key survives


def test_segment_lines_keeps_null_text_docs(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators.linededup import (
        segment_lines,
    )

    docs = spark.createDataFrame(
        [(1, "a\nb\nc"), (2, None), (3, "single")],
        "doc_id: bigint, text: string",
    )
    out = segment_lines(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3  # one row per line, positions preserved
    assert [x[2] for x in sorted(map(tuple, by_doc[1]))] == ["a", "b", "c"]
    assert 2 in by_doc  # NULL text must not delete the document
    assert len(by_doc[3]) == 1
