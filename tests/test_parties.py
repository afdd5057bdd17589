"""Golden tests for the party grammar — one per family observed in the
reference sample data (FIXTURES.md §1 / ingest.py:352-403 semantics)."""

from __future__ import annotations

import pytest

from legal_data_ingestion_rag_pipeline_spark.functions.parties import parties_struct

GOLDEN = [
    (
        "John Smith (plaintiff); Acme Corp, Jane Doe (defendants)",
        [("John Smith", "plaintiff"), ("Acme Corp", "defendant"), ("Jane Doe", "defendant")],
    ),
    (
        "TechStart Inc (plaintiff), MegaCorp (defendant)",
        # one section (no ; or /): first role wins for the whole section
        [("TechStart Inc", "plaintiff"), ("MegaCorp", "plaintiff")],
    ),
    (
        "Robert Anderson (plaintiff) / HealthPlus Insurance Co. (defendant)",
        [("Robert Anderson", "plaintiff"), ("HealthPlus Insurance Co.", "defendant")],
    ),
    (
        # the | quirk: NOT a separator; role of first parenthetical applies,
        # all parentheticals removed, interior double space survives strip
        "Taylor (plaintiff) | Energy LLC, Does 1-36 (defendant)",
        [("Taylor  | Energy LLC", "plaintiff"), ("Does 1-36", "plaintiff")],
    ),
    (
        # no parens at all -> role 'other', text untouched
        "A plaintiff / B defendant",
        [("A plaintiff", "other"), ("B defendant", "other")],
    ),
    (
        "Solo Party (third_party)",
        [("Solo Party", "third_party")],
    ),
    (
        "X (intervenor); ; Y",
        [("X", "intervenor"), ("Y", "other")],
    ),
    ("", []),
]


@pytest.mark.parametrize("raw,expected", GOLDEN, ids=range(len(GOLDEN)))
def test_parties_struct_matches(spark, raw, expected):
    df = spark.createDataFrame([(1, raw)], "id int, parties string")
    [row] = df.select(parties_struct("parties").alias("p")).collect()
    assert [(x.party_name, x.role) for x in row.p] == expected
