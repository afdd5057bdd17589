"""Multi-format date parsing (reference ``parse_date``, ingest.py:299-350).

The reference tries formats in order and raises on failure (no sentinel
dates).  Spark-first re-expression: a ``coalesce`` over ``try_to_date``
with each format — null result means "unparseable", which the ingest
plan routes to quarantine as BAD_DATE.  The whole chain is a single
codegen'd expression; Catalyst folds it per-row with no Python.

Spark 4 runs with ANSI mode on, so ``try_to_date`` (not ``to_date``)
is required for the failure-tolerant semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Order mirrors the reference's attempt order (ISO first, then numeric
#: MDY with - or /, then month-name forms).  Spark's default strict
#: parser (timeParserPolicy=CORRECTED) rejects month 13 / day 40 just
#: like the reference's datetime.strptime.
DATE_FORMATS = (
    "yyyy-M-d",       # ISO, single- or double-digit month/day
    "M-d-yyyy",       # numeric MDY dashes
    "M/d/yyyy",       # numeric MDY slashes
    "MMM d, yyyy",    # Oct 3, 2024
    "MMMM d, yyyy",   # October 3, 2024
)


def parse_date_multi(c: Column | str, formats: tuple[str, ...] = DATE_FORMATS) -> Column:
    """First format that parses wins; null if none do (=> quarantine)."""
    col = F.col(c) if isinstance(c, str) else c
    col = F.trim(col)
    attempts = [F.try_to_date(col, format=fmt) for fmt in formats]
    return F.coalesce(*attempts)


#: Golden cases ported verbatim from the reference's --selftest
#: (ingest.py:879-977); tests/test_dates.py asserts them too.
SELFTEST_VALID: tuple[tuple[str, str], ...] = (
    ("2024-10-03", "2024-10-03"),
    ("2024-1-3", "2024-01-03"),
    ("10-3-2024", "2024-10-03"),
    ("1-3-2024", "2024-01-03"),
    ("10/3/2024", "2024-10-03"),
    ("1/3/2024", "2024-01-03"),
    ("8/8/2025", "2025-08-08"),
    ("Oct 3, 2024", "2024-10-03"),
    ("October 3, 2024", "2024-10-03"),
    ("Jan 1, 2023", "2023-01-01"),
    ("10/03/2024", "2024-10-03"),
    ("10-03-2024", "2024-10-03"),
)

SELFTEST_INVALID: tuple[str | None, ...] = (
    "13-40-2024", "", None, "2024-13-03", "not a date", "40/40/4040",
)


def selftest(spark) -> bool:
    """Run the reference's selftest goldens through the Spark parser
    (ingest.py --selftest parity)."""
    rows = [(s, exp) for s, exp in SELFTEST_VALID] + [
        (s, None) for s in SELFTEST_INVALID
    ]
    df = spark.createDataFrame(rows, "raw string, expected string")
    out = df.withColumn(
        "got", F.date_format(parse_date_multi("raw"), "yyyy-MM-dd")
    )
    bad = out.filter(
        ~(
            (F.col("got").isNull() & F.col("expected").isNull())
            | (F.col("got") == F.col("expected"))
        )
    )
    return bad.count() == 0
