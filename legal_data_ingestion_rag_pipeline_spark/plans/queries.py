"""API-equivalent query functions (SURVEY §2.9).

The reference answers each REST endpoint with its own join (J1 list,
J2 detail, J3 parties, J4 search).  Here one function,
``serving_view``, owns how a docket is shown: it joins the display
names and the sorted parties onto each case once, and every endpoint
is a filter (plus a top-k) over that view.  A server persists the view
once per loaded warehouse (``api.context_from_store``), so no request
joins.  Argument-validation semantics (400/404) are preserved as
ValueError/None so a thin HTTP wrapper reproduces the API exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, functions as F

LIST_LIMIT = 200


def serving_view(tables: dict[str, DataFrame]) -> DataFrame:
    """One row per case with everything an endpoint shows:

    id, case_number, title, status, docket_text; filed_date as a
    yyyy-MM-dd string plus filed_on (the date the year filter's range
    predicate prunes on); judge (display name, the reference's
    j.full_name) and judge_name (normalized, what the judge filter
    matches); court; case_type; parties (``case_parties_of``, an empty
    array for a case without parties).
    """

    def dim(table: str, key: str, **names: str) -> DataFrame:
        cols = [F.col("id").alias(key)] + [F.col(c).alias(a) for a, c in names.items()]
        return F.broadcast(tables[table].select(*cols))

    return (
        tables["cases"]
        .join(dim("judges", "judge_id", judge="name", judge_name="normalized_name"), "judge_id", "left")
        .join(dim("courts", "court_id", court="name"), "court_id", "left")
        .join(dim("case_types", "case_type_id", case_type="name"), "case_type_id", "left")
        .join(case_parties_of(tables).withColumnRenamed("case_id", "id"), "id", "left")
        .select(
            "id", "case_number", "title", "status", "docket_text",
            F.date_format("filed_date", "yyyy-MM-dd").alias("filed_date"),
            F.col("filed_date").alias("filed_on"),
            "judge", "judge_name", "court", "case_type",
            F.coalesce(
                "parties",
                F.array().cast("array<struct<role:string,name:string,normalized_name:string>>"),
            ).alias("parties"),
        )
    )


def list_cases(
    view: DataFrame,
    judge: str | None = None,
    year: int | None = None,
) -> DataFrame:
    """GET /cases?judge=&year= (api.py:154-199) over ``serving_view``.

    - >=1 filter required, else ValueError (the endpoint's 400);
    - judge FILTERED on the judge's normalized name == lower(judge),
      while the output 'judge' field carries the display name, as the
      /cases/{id} detail endpoint does;
    - year via year(filed_on) == year PLUS a filed_on range bound —
      the range predicate is what lets Catalyst prune a date-partitioned
      table at scale (SURVEY §3.3's idiomatic fix);
    - ORDER BY filed_date DESC LIMIT 200 (TakeOrderedAndProject).
    """
    if judge is None and year is None:
        raise ValueError("At least one filter (judge or year) is required")
    df = view
    if judge is not None:
        df = df.filter(F.col("judge_name") == judge.lower())
    if year is not None:
        df = df.filter(
            (F.col("filed_on") >= F.lit(f"{year}-01-01").cast("date"))
            & (F.col("filed_on") <= F.lit(f"{year}-12-31").cast("date"))
            & (F.year("filed_on") == year)
        )
    return (
        df.select("case_number", "title", "court", "judge", "filed_date", "status")
        .orderBy(F.desc("filed_date"), "case_number")
        .limit(LIST_LIMIT)
    )


def get_case(view: DataFrame, case_number: str) -> Row | None:
    """GET /cases/{case_number} (api.py:221-270): the case's
    ``serving_view`` row, parties ordered (role, name); None => the
    endpoint's 404."""
    rows = view.filter(F.col("case_number") == case_number).collect()
    return rows[0] if rows else None


def case_parties_of(tables: dict[str, DataFrame]) -> DataFrame:
    """(case_id, parties) with each case's parties as an
    array<struct<role, name, normalized_name>> in (role, name) order
    (api.py:256-261, J3).  A (case, party, role) triple is stored once,
    so the order has no ties."""
    return (
        tables["case_parties"]
        .join(
            tables["parties"].select(F.col("id").alias("party_id"), "name", "normalized_name"),
            "party_id",
        )
        .groupBy("case_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("role", "name", "normalized_name"))
            ).alias("parties")
        )
    )
