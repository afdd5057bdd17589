"""Data-quality report (SURVEY A1-A8, reference data_quality.py).

Each section is a DataFrame-returning function; report() collects
each one once, all of them at the same time (``session.concurrently``),
and evaluates the reference's exit thresholds (data_quality.py:464-480:
fail when failed% > 5 or any of judge/court/type missing% > 10).

Note on T16: the reference's date-parse-failure LIKE filter matches
messages the current ingest never writes (data_quality.py:189-208 is
dead code against its own pipeline). We implement the *intended*
check — count of BAD_DATE errors — and document the divergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import concurrently


def run_totals(runs: DataFrame) -> DataFrame:
    """A1: global sums over ingest_runs."""
    return runs.agg(
        F.count("*").alias("n_runs"),
        F.sum("total_read").alias("total_read"),
        F.sum("total_inserted").alias("total_inserted"),
        F.sum("total_updated").alias("total_updated"),
        F.sum("total_failed").alias("total_failed"),
    )


def error_breakdown(errors: DataFrame) -> DataFrame:
    """A2: top error codes with last-seen (data_quality.py:117-119
    parity); report() scopes ``errors`` to a run or a date first."""
    return (
        errors.groupBy("error_code")
        .agg(F.count("*").alias("cnt"), F.max("last_seen_at").alias("last_seen_at"))
        .orderBy(F.desc("cnt"), "error_code")
        .limit(10)
    )


def bad_date_errors(errors: DataFrame) -> DataFrame:
    """T16, fixed: the reference greps error_code LIKE
    'filed_date parse failed%' which never matches (the code is
    BAD_DATE and the message carries the text) — we count the real
    thing."""
    return errors.filter(F.col("error_code") == "BAD_DATE").agg(
        F.count("*").alias("bad_date_errors")
    )


def completeness(cases: DataFrame) -> DataFrame:
    """A3: conditional null/blank counts (FILTER-clause equivalents)."""
    blank = lambda c: F.col(c).isNull() | (F.trim(F.col(c)) == "")  # noqa: E731
    return cases.agg(
        F.count("*").alias("total_cases"),
        F.count(F.when(F.col("judge_id").isNull(), 1)).alias("missing_judge"),
        F.count(F.when(F.col("court_id").isNull(), 1)).alias("missing_court"),
        F.count(F.when(F.col("case_type_id").isNull(), 1)).alias("missing_case_type"),
        F.count(F.when(blank("docket_text"), 1)).alias("empty_docket_text"),
    )


def date_sanity(cases: DataFrame) -> DataFrame:
    """A4: min/max filed_date."""
    return cases.agg(
        F.min("filed_date").alias("min_filed"), F.max("filed_date").alias("max_filed")
    )


def normalization_sanity(dim: DataFrame) -> DataFrame:
    """A5: distinct raw vs normalized names per dimension."""
    return dim.agg(
        F.countDistinct("name").alias("distinct_raw"),
        F.countDistinct("normalized_name").alias("distinct_normalized"),
        F.count("*").alias("total"),
    )


def parties_coverage(cases: DataFrame, case_parties: DataFrame) -> DataFrame:
    """A6: per-case BOOL_OR(plaintiff)/BOOL_OR(defendant) -> counts."""
    per_case = (
        case_parties.join(cases.select(F.col("id").alias("case_id")), "case_id")
        .groupBy("case_id")
        .agg(
            F.max(F.col("role") == "plaintiff").alias("has_plaintiff"),
            F.max(F.col("role") == "defendant").alias("has_defendant"),
        )
    )
    return per_case.agg(
        F.count("*").alias("cases_with_parties"),
        F.count(F.when(F.col("has_plaintiff"), 1)).alias("with_plaintiff"),
        F.count(F.when(F.col("has_defendant"), 1)).alias("with_defendant"),
        F.count(F.when(F.col("has_plaintiff") & F.col("has_defendant"), 1)).alias(
            "with_both"
        ),
    )


def role_histogram(case_parties: DataFrame) -> DataFrame:
    """A7: role counts, top-10."""
    return (
        case_parties.groupBy("role")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "role")
        .limit(10)
    )


def daily_series(runs: DataFrame, days: int = 7) -> DataFrame:
    """A8: per-day read/failed sums over the last `days` days."""
    with_day = runs.withColumn("day", F.to_date("started_at"))
    return (
        with_day.filter(F.col("day") >= F.date_sub(F.current_date(), days))
        .groupBy("day")
        .agg(
            F.sum("total_read").alias("read"),
            F.sum("total_failed").alias("failed"),
        )
        .orderBy("day")
    )


def report(
    tables: dict[str, DataFrame],
    run_id: int | None = None,
    since: str | None = None,
) -> dict:
    """Full report + threshold verdict (reference exit-code logic;
    run_id/since mirror data_quality.py's --run-id/--since scoping).
    ``sections`` maps each section name to its collected rows.

    Scoping applies to every RUN-derived section (totals, error
    breakdowns, daily series) and therefore to the failed% verdict;
    table-state sections (completeness, normalization, coverage) are
    properties of the standing tables and stay global — a run filter
    cannot attribute table rows to runs.
    """
    runs = tables["ingest_runs"]
    errors = tables["ingest_errors"]
    if run_id is not None:
        runs = runs.filter(F.col("run_id") == run_id)
        errors = errors.filter(F.col("run_id") == run_id)
    if since is not None:
        runs = runs.filter(F.col("started_at") >= F.lit(since).cast("timestamp"))
        errors = errors.join(F.broadcast(runs.select("run_id")), "run_id")
    frames = {
        "run_totals": run_totals(runs),
        "error_breakdown": error_breakdown(errors),
        "bad_date_errors": bad_date_errors(errors),
        "completeness": completeness(tables["cases"]),
        "date_sanity": date_sanity(tables["cases"]),
        "courts_normalization": normalization_sanity(tables["courts"]),
        "judges_normalization": normalization_sanity(tables["judges"]),
        "parties_coverage": parties_coverage(tables["cases"], tables["case_parties"]),
        "role_histogram": role_histogram(tables["case_parties"]),
        "daily_series": daily_series(runs),
    }
    rows = concurrently(runs.sparkSession, [df.collect for df in frames.values()])
    sections = dict(zip(frames, rows))
    totals = sections["run_totals"][0]
    comp = sections["completeness"][0]
    read = totals.total_read or 0
    failed_pct = (totals.total_failed or 0) * 100.0 / read if read else 0.0
    n_cases = comp.total_cases or 0
    missing_pct = {
        "judge": comp.missing_judge * 100.0 / n_cases if n_cases else 0.0,
        "court": comp.missing_court * 100.0 / n_cases if n_cases else 0.0,
        "case_type": comp.missing_case_type * 100.0 / n_cases if n_cases else 0.0,
    }
    ok = failed_pct <= 5.0 and all(v <= 10.0 for v in missing_pct.values())
    return {
        "sections": sections,
        "failed_pct": failed_pct,
        "missing_pct": missing_pct,
        "ok": ok,
    }
