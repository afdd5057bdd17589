"""Entity-name normalizers and the status enum (reference parity).

Parity targets (semantics re-derived, not copied):
- court:  ``ingest.py:251-265``  — uppercase, strip all dots/whitespace
- judge:  ``ingest.py:267-282``  — strip leading title, collapse ws, lower
- party:  ``ingest.py:284-297``  — collapse whitespace, lower, trim
- status: ``ingest.py:607-609``  — lower(status); ``plans.ingest.validate`` checks the enum
- case_type: ``ingest.py:604,509`` — lower(trim(coalesce(type,'civil')))
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

VALID_STATUSES = ("active", "closed", "pending", "dismissed")

#: Regexes shared with oracle SQL (DuckDB needs the 'g' flag; Spark's
#: regexp_replace is global by default).
COURT_STRIP_RE = r"[.\s]+"
JUDGE_TITLE_RE = r"(?i)^(hon\.?|judge|justice)\s+"
WS_COLLAPSE_RE = r"\s+"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_court(c: Column | str) -> Column:
    """"S.D. N.Y." -> "SDNY": uppercase then remove every dot/space run."""
    return F.upper(F.regexp_replace(_col(c), COURT_STRIP_RE, ""))


def normalize_judge(c: Column | str) -> Column:
    """"Hon. Maria Rodriguez" -> "maria rodriguez"."""
    stripped = F.regexp_replace(_col(c), JUDGE_TITLE_RE, "")
    collapsed = F.regexp_replace(stripped, WS_COLLAPSE_RE, " ")
    return F.lower(F.trim(collapsed))


def normalize_party(c: Column | str) -> Column:
    """Collapse internal whitespace, trim, lowercase."""
    return F.lower(F.trim(F.regexp_replace(_col(c), WS_COLLAPSE_RE, " ")))


def normalize_status(c: Column | str) -> Column:
    """Plain lower(status) — the exact transform the reference applies
    (ingest.py:607 ``.lower()``, no trim).  Null stays null: the
    reference's 'active' default fires only on a *missing* dict key
    (``data.get('status', 'active')``), which JSON ingestion cannot
    distinguish from an explicit null; the ingest plan models null as
    the reference's ``NoneType.lower`` crash (UNKNOWN), and this helper
    stays consistent with that path.  '' and ' active' lower to
    themselves and fail the enum check, exactly as in the reference."""
    return F.lower(_col(c))


def normalize_case_type(c: Column | str) -> Column:
    col = _col(c)
    return F.lower(
        F.when(col.isNull() | (F.trim(col) == ""), F.lit("civil")).otherwise(F.trim(col))
    )
