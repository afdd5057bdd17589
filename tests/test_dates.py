"""Port of the reference's --selftest date cases (ingest.py:879-977)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from legal_data_ingestion_rag_pipeline_spark.functions.dates import parse_date_multi

VALID = [
    ("2024-10-03", dt.date(2024, 10, 3)),
    ("2024-1-3", dt.date(2024, 1, 3)),
    ("10-3-2024", dt.date(2024, 10, 3)),
    ("1-3-2024", dt.date(2024, 1, 3)),
    ("10/3/2024", dt.date(2024, 10, 3)),
    ("1/3/2024", dt.date(2024, 1, 3)),
    ("8/8/2025", dt.date(2025, 8, 8)),
    ("Oct 3, 2024", dt.date(2024, 10, 3)),
    ("October 3, 2024", dt.date(2024, 10, 3)),
    ("Jan 1, 2023", dt.date(2023, 1, 1)),
    ("10/03/2024", dt.date(2024, 10, 3)),
    ("10-03-2024", dt.date(2024, 10, 3)),
]

INVALID = ["13-40-2024", "", None, "2024-13-03", "not a date", "40/40/4040"]


def test_valid_dates(spark):
    df = spark.createDataFrame([(s,) for s, _ in VALID], "raw string")
    got = df.select(parse_date_multi("raw").alias("d")).collect()
    assert [r.d for r in got] == [d for _, d in VALID]


def test_invalid_dates(spark):
    df = spark.createDataFrame([(s,) for s in INVALID], "raw string")
    # a null parse is ingest's BAD_DATE test
    got = df.select(
        parse_date_multi("raw").isNull().alias("bad"), F.col("raw")
    ).collect()
    assert all(r.bad for r in got), [r.raw for r in got if not r.bad]
