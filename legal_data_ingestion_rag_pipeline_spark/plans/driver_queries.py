"""Driver-facing query registry: every operator from SURVEY.md §2 (plus
the LLM-data-pipeline extensions) demonstrated on the driver's parquet
tables, each with an ANSI-SQL DuckDB oracle.

Conventions that keep the Spark result and the DuckDB oracle
hash-identical (the driver sorts columns by name and hashes values):

- every computed column is aliased identically on both sides;
- computed integers are CAST AS BIGINT on both sides;
- money/float sums go through DECIMAL(18,4) so the aggregation is
  exact and order-independent, then CAST AS DOUBLE for output;
- ratios/averages are computed as double division of exact operands;
- hash-bearing operators (MinHash/SimHash/fingerprints) use the
  portable polynomial arithmetic from functions/portable.py, emitted
  for both dialects from the same builder;
- top-k queries always carry a unique tie-break key.

Scale notes per query live in their docstrings: what shuffles, what
broadcasts, and why the plan survives 1000x data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import portable as PT
from ..functions.chunking import chunk_text
from ..functions.normalize import (
    COURT_STRIP_RE,
    JUDGE_TITLE_RE,
    WS_COLLAPSE_RE,
)
from ..session import load_table
from .registry import register, registry  # noqa: F401  (re-export)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Relational spine — the reference's API/report queries mapped onto the
# driver tables (SURVEY §2.3-§2.5).
# ---------------------------------------------------------------------------

@register(
    "list_topk_by_date",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_orderdate, CAST(o.o_totalprice AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1996-01-01'
      AND c.c_mktsegment = 'BUILDING'
    ORDER BY o.o_orderdate DESC, o.o_orderkey LIMIT 200
    """,
    bench=True,
    doc="list_cases analog (api.py:154-199): filter + dim join + ORDER BY "
    "date DESC LIMIT 200. Catalyst plans TakeOrderedAndProject (true "
    "top-k, no global sort) and broadcasts the dim side. The year filter "
    "is written as a half-open date range (queries.py:49-54 does the same "
    "rewrite) so it reaches PushedFilters and prunes date-partitioned "
    "layouts; year(col)=k is opaque to min/max pruning.",
)
def list_topk_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
            & (F.col("c_mktsegment") == "BUILDING")
        )
        .select(
            "o_orderkey",
            "c_name",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("total"),
        )
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(200)
    )


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    bench=True,
    doc="TPC-H Q1 shape (A1/A2 analogs): map-side partial aggregation, "
    "one shuffle on the 6-value grouping key. DECIMAL sums keep the "
    "result order-independent and oracle-exact at any parallelism.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    # per-row product in DOUBLE (bit-identical across engines), then an
    # exact DECIMAL sum; summing at scale>6 would exceed 2^53 tenths and
    # make the final double cast engine-dependent.
    disc_price = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count("*")).cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "case_detail_joins",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region,
           CAST(c.c_acctbal AS DOUBLE) AS acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="case-detail analog (api.py:221-270, J2): chained LEFT joins to "
    "small dims — both dims broadcast, zero shuffles of the fact side.",
)
def case_detail_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
        )
    )


@register(
    "backfill_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    ORDER BY c.c_custkey
    """,
    doc="embedding-backfill candidate scan analog (rag.py:97-104, J5): "
    "LEFT ANTI join (customers with no big order — the filter keeps the "
    "result non-trivial at every SF). At scale this is a broadcast-anti "
    "when the keys side fits, else a shuffled anti — never a full outer "
    "+ filter.",
)
def backfill_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "junction_inner_join",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_lines, p.p_brand
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE o.o_orderstatus = 'O' AND p.p_size > 40
    GROUP BY o.o_orderkey, o.o_orderdate, p.p_brand
    ORDER BY revenue DESC, o_orderkey, p_brand LIMIT 100
    """,
    bench=True,
    doc="junction inner joins (J3/J7, TPC-H Q3 shape): fact-to-fact join "
    "on the shuffle key + broadcast part dim, aggregated revenue top-k. "
    "AQE picks the join strategies; the part filter prunes before the "
    "join.",
)
def junction_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("o_orderkey", "o_orderdate", "p_brand")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .select("o_orderkey", "o_orderdate", "revenue", "n_lines", "p_brand")
        .orderBy(F.desc("revenue"), "o_orderkey", "p_brand")
        .limit(100)
    )


@register(
    "record_canonical_hash",
    oracle="""
    SELECT event_id,
           sha256(concat_ws(chr(1),
             CAST(event_id AS VARCHAR), event_type,
             CAST(user_id AS VARCHAR), props)) AS record_hash
    FROM events ORDER BY event_id LIMIT 1000
    """,
    doc="T9 canonical record hash (ingest.py:42-49): deterministic "
    "sha256 over ordered fields — the dedup/idempotency key. Pure "
    "projection, codegen'd.",
)
def record_canonical_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    h = F.sha2(
        F.concat_ws(
            "\x01",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.col("user_id").cast("string"),
            F.col("props"),
        ),
        256,
    )
    return (
        ev.select("event_id", h.alias("record_hash")).orderBy("event_id").limit(1000)
    )


@register(
    "junction_role_histogram",
    oracle="""
    SELECT l_returnflag AS role, count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag ORDER BY cnt DESC, role LIMIT 10
    """,
    doc="role-histogram analog (data_quality.py:287-294, A7): groupBy + "
    "count + top-10; partial aggregation makes the shuffle tiny.",
)
def junction_role_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("role"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "role")
        .limit(10)
    )


@register(
    "error_breakdown",
    oracle="""
    SELECT event_type AS error_code, count(*) AS cnt,
           max(CAST(ts AS DATE)) AS last_seen_day
    FROM events GROUP BY event_type ORDER BY cnt DESC, error_code LIMIT 10
    """,
    doc="error-breakdown analog (data_quality.py:99-134, A2): group, "
    "count, max(last_seen), top-10.",
)
def error_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("event_type").alias("error_code"))
        .agg(
            F.count("*").alias("cnt"),
            F.max(F.to_date("ts")).alias("last_seen_day"),
        )
        .orderBy(F.desc("cnt"), "error_code")
        .limit(10)
    )


@register(
    "completeness_report",
    oracle="""
    SELECT count(*) AS total,
           count(*) FILTER (WHERE c_acctbal < 0) AS negative_bal,
           count(*) FILTER (WHERE c_acctbal IS NULL) AS null_bal,
           count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS seg_building,
           CAST(count(*) FILTER (WHERE c_acctbal < 0) AS DOUBLE) / count(*) AS negative_ratio
    FROM customer
    """,
    doc="completeness report analog (data_quality.py:142-161, A3): "
    "conditional aggregation — COUNT(*) FILTER == count(when(cond,1)).",
)
def completeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    neg = F.count(F.when(F.col("c_acctbal") < 0, 1))
    return c.agg(
        F.count("*").alias("total"),
        neg.alias("negative_bal"),
        F.count(F.when(F.col("c_acctbal").isNull(), 1)).alias("null_bal"),
        F.count(F.when(F.col("c_mktsegment") == "BUILDING", 1)).alias("seg_building"),
        (neg.cast("double") / F.count("*")).alias("negative_ratio"),
    )


@register(
    "date_sanity_minmax",
    oracle="""
    SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
           count(DISTINCT year(o_orderdate)) AS n_years
    FROM orders
    """,
    doc="date-sanity analog (data_quality.py:172-186, A4) + countDistinct (A5).",
)
def date_sanity_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
    )


@register(
    "normalization_sanity",
    oracle="""
    SELECT count(DISTINCT c_name) AS distinct_raw,
           count(DISTINCT lower(trim(regexp_replace(c_name, '\\s+', ' ', 'g')))) AS distinct_normalized,
           count(*) AS total
    FROM customer
    """,
    doc="normalization sanity analog (data_quality.py:223-240, A5): "
    "countDistinct raw vs normalized.",
)
def normalization_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    norm = F.lower(F.trim(F.regexp_replace(F.col("c_name"), WS_COLLAPSE_RE, " ")))
    return c.agg(
        F.countDistinct("c_name").alias("distinct_raw"),
        F.countDistinct(norm).alias("distinct_normalized"),
        F.count("*").alias("total"),
    )


@register(
    "coverage_bool_or",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             bool_or(l_returnflag = 'R') AS has_return,
             bool_or(l_returnflag = 'A') AS has_accept
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT count(*) AS orders_with_lines,
           count(*) FILTER (WHERE has_return) AS with_return,
           count(*) FILTER (WHERE has_accept) AS with_accept,
           count(*) FILTER (WHERE has_return AND has_accept) AS with_both
    FROM per_order
    """,
    doc="parties-coverage analog (data_quality.py:252-283, A6): per-group "
    "BOOL_OR then conditional counts. Two-level aggregation, one shuffle.",
)
def coverage_bool_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_returnflag") == "R").alias("has_return"),
        F.max(F.col("l_returnflag") == "A").alias("has_accept"),
    )
    return per.agg(
        F.count("*").alias("orders_with_lines"),
        F.count(F.when(F.col("has_return"), 1)).alias("with_return"),
        F.count(F.when(F.col("has_accept"), 1)).alias("with_accept"),
        F.count(F.when(F.col("has_return") & F.col("has_accept"), 1)).alias("with_both"),
    )


@register(
    "quality_sanity_report",
    oracle="""
    SELECT * FROM
      (SELECT count(*) AS total,
              count(*) FILTER (WHERE c_acctbal < 0) AS negative_bal,
              count(*) FILTER (WHERE c_acctbal IS NULL) AS null_bal,
              count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS seg_building,
              CAST(count(*) FILTER (WHERE c_acctbal < 0) AS DOUBLE) / count(*)
                AS negative_ratio
       FROM customer) comp,
      (SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
              count(DISTINCT year(o_orderdate)) AS n_years
       FROM orders) dates,
      (SELECT count(DISTINCT c_name) AS distinct_raw,
              count(DISTINCT lower(trim(regexp_replace(c_name, '\\s+', ' ', 'g'))))
                AS distinct_normalized
       FROM customer) norm,
      (SELECT count(*) AS orders_with_lines,
              count(*) FILTER (WHERE has_return) AS with_return,
              count(*) FILTER (WHERE has_accept) AS with_accept,
              count(*) FILTER (WHERE has_return AND has_accept) AS with_both
       FROM (SELECT l_orderkey,
                    bool_or(l_returnflag = 'R') AS has_return,
                    bool_or(l_returnflag = 'A') AS has_accept
             FROM lineitem GROUP BY l_orderkey) per_order) cov
    """,
    doc="fused quality report: the four 1-row sanity aggregates "
    "(completeness A3, date min/max A4, normalized countDistinct A5, "
    "bool_or coverage A6/J7) cross-joined into one gate row. Keeps all "
    "four operator families inside the driver's gated-query budget; the "
    "individual reports stay registered for the API surface. Each leg "
    "is an independent scan-side partial agg; the cross join of four "
    "single rows is free.",
)
def quality_sanity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = completeness_report(spark, sf_dir)
    dates = date_sanity_minmax(spark, sf_dir)
    norm = normalization_sanity(spark, sf_dir).drop("total")
    cov = coverage_bool_or(spark, sf_dir)
    return comp.crossJoin(dates).crossJoin(norm).crossJoin(cov)


@register(
    "daily_series_last7",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events)
    SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events, mx
    WHERE CAST(ts AS DATE) >= mx.d - 6
    GROUP BY day ORDER BY day
    """,
    doc="daily ingest series analog (data_quality.py:307-317, A8): date "
    "bucketing + last-7-days window anchored at max(ts) so the query is "
    "deterministic on static data.",
)
def daily_series_last7(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    mx = ev.agg(F.max("day").alias("d"))
    return (
        ev.join(F.broadcast(mx))
        .filter(F.col("day") >= F.date_sub(F.col("d"), 6))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .orderBy("day")
    )


@register(
    "window_argmax_per_user",
    oracle="""
    SELECT user_id, event_id AS best_event, event_type,
           CAST(value AS DOUBLE) AS value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events) t
    WHERE rn = 1 ORDER BY user_id
    """,
    doc="best-chunk-per-case argmax analog (rag.py:207-224, A9): window "
    "row_number over partition key — scales linearly, no global sort.",
)
def window_argmax_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("best_event"),
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        .orderBy("user_id")
    )


@register(
    "last_wins_dedup",
    oracle="""
    SELECT l_orderkey, l_linenumber AS last_line, l_partkey,
           CAST(l_quantity AS DOUBLE) AS qty
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber DESC, l_partkey, l_suppkey, l_quantity) AS rn
      FROM lineitem) t
    WHERE rn = 1 ORDER BY l_orderkey
    """,
    doc="last-wins in-batch upsert analog (ingest.py:618-627 duplicate "
    "case_number semantics): keep the final record per key by sequence "
    "order — window argmax, per-key, shuffle on the upsert key only.",
)
def last_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # l_linenumber is not unique per order in the synthetic data, so the
    # tiebreak chain must be total for a deterministic pick.
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_linenumber"), "l_partkey", "l_suppkey", "l_quantity"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("last_line"),
            "l_partkey",
            F.col("l_quantity").cast("double").alias("qty"),
        )
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# Normalizers + multi-format date parsing (SURVEY §2.2) demonstrated on
# driver tables (strings built from table data, then normalized/parsed).
# ---------------------------------------------------------------------------

@register(
    "normalize_entities",
    oracle=r"""
    SELECT p_partkey,
           upper(regexp_replace(p_brand, '[.\s]+', '', 'g')) AS court_style,
           lower(trim(regexp_replace(regexp_replace(p_name, '^(hon\.?|judge|justice)\s+', '', 'gi'), '\s+', ' ', 'g'))) AS judge_style,
           lower(trim(regexp_replace(p_type, '\s+', ' ', 'g'))) AS party_style
    FROM part
    """,
    doc="T1-T3 normalizers (ingest.py:251-297) as one projection pass — "
    "pure codegen'd string expressions, no UDF.",
)
def normalize_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    judge = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("p_name"), JUDGE_TITLE_RE, ""), WS_COLLAPSE_RE, " "
            )
        )
    )
    return p.select(
        "p_partkey",
        F.upper(F.regexp_replace("p_brand", COURT_STRIP_RE, "")).alias("court_style"),
        judge.alias("judge_style"),
        F.lower(F.trim(F.regexp_replace("p_type", WS_COLLAPSE_RE, " "))).alias("party_style"),
    )


@register(
    "multiformat_date_parse",
    oracle="""
    WITH raw AS (
      SELECT o_orderkey,
             CASE o_orderkey % 3
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
               WHEN 1 THEN concat(month(o_orderdate), '/', day(o_orderdate), '/', year(o_orderdate))
               ELSE strftime(o_orderdate, '%B %-d, %Y')
             END AS raw_date
      FROM orders
    ),
    parsed AS (
      SELECT o_orderkey, raw_date,
             coalesce(
               CAST(try_strptime(raw_date, '%Y-%m-%d') AS DATE),
               CAST(try_strptime(raw_date, '%m/%d/%Y') AS DATE),
               CAST(try_strptime(raw_date, '%B %d, %Y') AS DATE)
             ) AS parsed_date
      FROM raw
    )
    SELECT year(parsed_date) AS yr, count(*) AS cnt,
           count(*) FILTER (WHERE parsed_date IS NULL) AS failed
    FROM parsed GROUP BY yr ORDER BY yr
    """,
    doc="T4 multi-format date parsing: rows are formatted into 3 string "
    "families then re-parsed with a try_to_date coalesce chain — the "
    "quarantine predicate is 'all formats failed'. Entire chain folds "
    "into one codegen stage.",
)
def multiformat_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    raw = o.withColumn(
        "raw_date",
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.concat_ws(
                "/",
                F.month("o_orderdate").cast("string"),
                F.day("o_orderdate").cast("string"),
                F.year("o_orderdate").cast("string"),
            ),
        )
        .otherwise(F.date_format("o_orderdate", "MMMM d, yyyy")),
    )
    parsed = raw.withColumn(
        "parsed_date",
        F.coalesce(
            F.try_to_date("raw_date", format="yyyy-MM-dd"),
            F.try_to_date("raw_date", format="M/d/yyyy"),
            F.try_to_date("raw_date", format="MMMM d, yyyy"),
        ),
    )
    return (
        parsed.groupBy(F.year("parsed_date").alias("yr"))
        .agg(
            F.count("*").alias("cnt"),
            F.count(F.when(F.col("parsed_date").isNull(), 1)).alias("failed"),
        )
        .orderBy("yr")
    )


@register(
    "status_validation_split",
    oracle="""
    SELECT CASE WHEN lower(o_orderstatus) IN ('o','f','p') THEN 'good' ELSE 'bad' END AS bucket,
           lower(o_orderstatus) AS status, count(*) AS cnt
    FROM orders GROUP BY bucket, status ORDER BY bucket, status
    """,
    doc="T6/T8 enum validation split: good/bad routing as a single "
    "grouped pass (the ingest plan materializes both sides from one scan).",
)
def status_validation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    status = F.lower(F.col("o_orderstatus"))
    bucket = F.when(status.isin("o", "f", "p"), "good").otherwise("bad")
    return (
        o.groupBy(bucket.alias("bucket"), status.alias("status"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("bucket", "status")
    )


@register(
    "parties_grammar",
    oracle=r"""
    WITH base AS (
      SELECT c_custkey AS id,
             CASE c_custkey % 3
               WHEN 0 THEN concat(c_name, ' (Plaintiff); ', c_mktsegment,
                                  ' Corp, Does 1-', CAST(c_nationkey AS VARCHAR),
                                  ' (defendants)')
               WHEN 1 THEN concat(c_name, ' (plaintiff) | ', c_mktsegment,
                                  ' LLC (defendant)')
               ELSE concat(c_name, ' plaintiff / ', c_mktsegment, ' defendant')
             END AS parties
      FROM customer
    ),
    secs AS (
      SELECT id, trim(unnest(string_split_regex(parties, '[;/]'))) AS sec FROM base
    ),
    roled AS (
      SELECT id, sec,
             lower(regexp_extract(sec,
               '(?i)\((plaintiff|defendant|plaintiffs|defendants|third_party|intervenor|other)\)', 1)) AS role_raw
      FROM secs WHERE sec != ''
    ),
    cleaned AS (
      SELECT id,
             CASE WHEN role_raw != '' THEN regexp_replace(role_raw, 's$', '')
                  ELSE 'other' END AS role,
             CASE WHEN role_raw != '' THEN trim(regexp_replace(sec, '\([^)]+\)', '', 'g'))
                  ELSE sec END AS rest
      FROM roled
    ),
    names AS (
      SELECT id, role, trim(unnest(string_split(rest, ','))) AS party_name FROM cleaned
    )
    SELECT id, party_name, role FROM names WHERE party_name != ''
    ORDER BY id, party_name, role
    """,
    doc="T5 party-string grammar (ingest.py:352-403) on synthesized "
    "strings covering all grammar families incl. the '|' quirk: "
    "one split/transform/regexp Column expression, inlined; zero UDFs.",
)
def parties_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.parties import parties_struct

    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("id"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.col("c_name"), F.lit(" (Plaintiff); "), F.col("c_mktsegment"),
                F.lit(" Corp, Does 1-"), F.col("c_nationkey").cast("string"),
                F.lit(" (defendants)"),
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(
                F.col("c_name"), F.lit(" (plaintiff) | "), F.col("c_mktsegment"),
                F.lit(" LLC (defendant)"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("c_name"), F.lit(" plaintiff / "), F.col("c_mktsegment"),
                F.lit(" defendant"),
            )
        )
        .alias("parties"),
    )
    return (
        base.select("id", F.inline(parties_struct("parties")))
        .orderBy("id", "party_name", "role")
    )


# ---------------------------------------------------------------------------
# Chunking / snippets (SURVEY T11-T12) on documents.
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ),
    exploded AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             trim(substr(text, CAST(i * 100 + 1 AS INT), 120)) AS chunk
      FROM d, unnest(range(1 + CAST(greatest(ceil((n - 120) / 100.0), 0) AS BIGINT))) AS t(i)
    ),
    renum AS (
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS chunk_id,
             chunk AS chunk_text
      FROM exploded WHERE chunk != ''
    )
    SELECT doc_id, chunk_id, chunk_text, substr(chunk_text, 1, 64) AS snippet
    FROM renum ORDER BY doc_id, chunk_id
"""


@register(
    "chunk_documents",
    oracle=_CHUNK_ORACLE,
    bench=True,
    doc="T12 chunker (rag.py:44-69 semantics at size=120/overlap=20 so the "
    "driver docs multi-chunk) + T11 snippet. Narrow per-row explode; the "
    "only shuffle is the per-document re-id window.",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    chunks = chunk_text(d, size=120, overlap=20)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        "chunk_text",
        F.substring("chunk_text", 1, 64).alias("snippet"),
    ).orderBy("doc_id", "chunk_id")
