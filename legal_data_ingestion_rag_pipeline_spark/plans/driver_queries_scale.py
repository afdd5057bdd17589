"""Driver queries: scale-pattern operators beyond the reference's SQL
surface — range join, skew-salted join, percentiles, cube, reproducible
sampling, vocabulary building, approx-distinct guard, and a TPC-H
Q3-style shuffle-heavy headline join. Each carries a DuckDB oracle; the
salted join's oracle is the PLAIN join (salting must be invisible in
results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import portable as PT
from ..operators.topk import salted_join
from ..session import barrier, load_table
from .registry import register

D = PT.DUCKDB
S = PT.SPARK


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "range_join_clicks_before_purchase",
    oracle="""
    WITH p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, value
               FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id,
           count(c.cts) AS n_clicks,
           CAST(coalesce(sum(CAST(c.value AS DECIMAL(18,4))), 0) AS DOUBLE)
             AS click_value
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts
    GROUP BY p.purchase_id, p.user_id
    ORDER BY p.purchase_id
    """,
    doc="interval/range join: clicks within the hour before each "
    "purchase, per user. Equi key (user_id) drives the shuffle; the "
    "range predicate evaluates inside each matched group, so the plan "
    "is a plain hash join, not a cartesian. At 100 TB the time axis "
    "would additionally be bucketed (join on user AND hour-bucket) to "
    "bound per-task fan-out.",
)
def range_join_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("cts"), "value"
    )
    j = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.cts >= p.pts - F.expr("INTERVAL 1 HOUR"))
        & (c.cts < p.pts),
        "left",
    )
    return (
        j.groupBy("purchase_id", "user_id")
        .agg(
            F.count("cts").alias("n_clicks"),
            F.coalesce(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
                F.lit(0.0),
            ).alias("click_value"),
        )
        .orderBy("purchase_id")
    )


@register(
    "salted_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="skew-salted join: the build side is exploded across SALT "
    "replicas and the probe side picks a deterministic salt, spreading "
    "one hot key over SALT reducers. The oracle is the PLAIN join — "
    "salting must never change results. Complements AQE skew handling "
    "(which only kicks in on sort-merge post-shuffle stats); explicit "
    "salting also covers streaming joins and first-shuffle skew.",
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "percentile_extendedprice",
    oracle=f"""
    SELECT l_returnflag,
           {PT.round6("quantile_cont(l_extendedprice, 0.5)", D)} AS p50,
           {PT.round6("quantile_cont(l_extendedprice, 0.9)", D)} AS p90,
           {PT.round6("quantile_cont(l_extendedprice, 0.99)", D)} AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="exact linear-interpolation percentiles per group (Spark "
    "percentile == DuckDB quantile_cont). At 100 TB the exact sort-"
    "based percentile gives way to approx_percentile (t-digest, "
    "mergeable sketches) — exposed as the same API with a tolerance.",
)
def percentile_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("raw50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("raw90"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("raw99"),
    )
    return g.select(
        "l_returnflag",
        F.expr(PT.round6("raw50", S)).alias("p50"),
        F.expr(PT.round6("raw90", S)).alias("p90"),
        F.expr(PT.round6("raw99", S)).alias("p99"),
    ).orderBy("l_returnflag")


@register(
    "cube_orders_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, o_orderstatus NULLS LAST,
             o_orderpriority NULLS LAST
    """,
    doc="full cube over status x priority (all 4 grouping sets in one "
    "pass — Catalyst expands then partial-aggregates, shuffle sized by "
    "group count, not input).",
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_orderpriority").asc_nulls_last(),
        )
    )


_SAMPLE_ORACLE = f"""
    SELECT doc_id, source, {PT.poly_hash("text", D)} % 100 AS bucket
    FROM documents
    WHERE {PT.poly_hash("text", D)} % 100 < 10
    ORDER BY doc_id
"""


@register(
    "deterministic_sample",
    oracle=_SAMPLE_ORACLE,
    doc="reproducible content-hash sampling (poly-hash bucket < rate): "
    "the 10%% sample is a pure function of the text, so re-runs, "
    "retries, and different partitionings select the SAME documents — "
    "the property training-data pipelines need that rand()-based "
    "sample() can't give. Map-side only, no shuffle.",
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.expr(PT.poly_hash("text", S)) % 100
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 10)
        .select("doc_id", "source", "bucket")
        .orderBy("doc_id")
    )


_VOCAB_ORACLE = f"""
    WITH t AS (SELECT unnest({PT.tokens("text", D)}) AS token FROM documents)
    SELECT token, count(*) AS freq
    FROM t GROUP BY token
    ORDER BY freq DESC, token LIMIT 50
"""


@register(
    "vocab_topk",
    oracle=_VOCAB_ORACLE,
    doc="vocabulary build: explode tokens -> count -> top-50 with a "
    "total order (freq desc, token asc). The explode+count is the "
    "canonical word-count shuffle; top-k runs as TakeOrderedAndProject "
    "(per-partition heaps, no global sort).",
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr(PT.tokens("text", S))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


@register(
    "approx_distinct_guard",
    oracle="""
    SELECT source, count(DISTINCT text) AS exact_ndv, TRUE AS approx_within_5pct
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="sketch guard: exact ndv next to approx_count_distinct "
    "(HyperLogLog++, rsd 2%), asserting the sketch lands within "
    "max(5%, ±2) — the absolute slack covers tiny cardinalities where "
    "a single-unit HLL wobble exceeds 5%. The check itself is part of "
    "the result, so the oracle gate verifies the sketch's accuracy "
    "contract. At 100 TB only the sketch runs (mergeable, constant "
    "memory); the exact path is the small-scale audit.",
)
def approx_distinct_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.countDistinct("text").alias("exact_ndv"),
            F.approx_count_distinct("text", rsd=0.02).alias("approx_ndv"),
        )
        .select(
            "source",
            "exact_ndv",
            (
                F.abs(F.col("approx_ndv") - F.col("exact_ndv"))
                <= F.greatest(0.05 * F.col("exact_ndv"), F.lit(2.0))
            ).alias("approx_within_5pct"),
        )
        .orderBy("source")
    )


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    bench=True,
    doc="TPC-H Q5 shape: six-table join with a same-nation "
    "customer/supplier equi-condition. region/nation/supplier/customer "
    "broadcast (each far under the threshold); the only big shuffle is "
    "lineitem x orders on orderkey; Catalyst orders the join tree from "
    "the selective region filter outward.",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "merge_upsert_state",
    oracle="""
    WITH batch AS (
      -- updates: every 10th customer gets +100 balance; inserts: the
      -- same keys shifted by 1,000,000
      SELECT c_custkey, CAST(c_acctbal + 100 AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE)
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey,
           coalesce(b.c_acctbal, CAST(c.c_acctbal AS DOUBLE)) AS c_acctbal,
           (b.c_custkey IS NOT NULL AND c.c_custkey IS NULL) AS was_inserted
    FROM customer c FULL OUTER JOIN batch b USING (c_custkey)
    ORDER BY c_custkey
    """,
    doc="S3 fact upsert hash-gated end-to-end: merge_upsert (the Delta "
    "MERGE fallback — anti-join keep + union) applied to a synthetic "
    "batch of updates and inserts; the oracle is the equivalent FULL "
    "OUTER merge. One key shuffle per side, metrics from two counts "
    "(Delta operationMetrics in a real deployment).",
)
def merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    tenth = cust.filter(F.col("c_custkey") % 10 == 0)
    batch = (
        tenth.select("c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal"))
        .unionByName(
            tenth.select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
        .withColumn("_seq", F.monotonically_increasing_id())
    )
    result = merge_upsert(cust, batch, ["c_custkey"], "_seq", touch_col=None)
    inserted_keys = batch.join(cust.select("c_custkey"), "c_custkey", "left_anti")
    return (
        result.merged.join(
            inserted_keys.select("c_custkey").withColumn("was_inserted", F.lit(True)),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            "c_acctbal",
            F.coalesce("was_inserted", F.lit(False)).alias("was_inserted"),
        )
        .orderBy("c_custkey")
    )


@register(
    "exists_subquery_big_spenders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    ORDER BY c_custkey
    """,
    doc="correlated EXISTS subquery: Catalyst decorrelates it into a "
    "left-semi hash join (no per-row subquery execution — the plan the "
    "reference's Postgres would also pick). Declared via spark.sql to "
    "exercise the SQL front-end alongside the DataFrame API.",
)
def exists_subquery_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM v_customer c
        WHERE EXISTS (
          SELECT 1 FROM v_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        ORDER BY c_custkey
        """
    )


@register(
    "fuzzy_nation_pairs",
    oracle="""
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
    FROM nation a JOIN nation b
      ON a.n_name < b.n_name
     AND abs(length(a.n_name) - length(b.n_name)) <= 1
    WHERE levenshtein(a.n_name, b.n_name) <= 3
    ORDER BY dist, name_a, name_b
    """,
    doc="fuzzy entity matching (the name-variation concern of the "
    "reference's dims, done approximately): a true EQUI blocking key — "
    "one side explodes to its length +-1 bucket, the other joins on "
    "exact length — so the plan is a hash join whose fan-out is "
    "bounded by block size; edit distance only runs inside blocks. "
    "(An inequality-only 'block' would plan as a nested-loop over "
    "n^2 pairs.)",
)
def fuzzy_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation").select("n_name")
    a = n.select(
        F.col("n_name").alias("name_a"), F.length("n_name").alias("blk")
    )
    # each b-name posts to blocks len-1, len, len+1; a matches on its
    # exact length, so every |len diff|<=1 pair meets in EXACTLY one block
    b = n.select(F.col("n_name").alias("name_b")).withColumn(
        "blk",
        F.explode(
            F.array(
                F.length("name_b") - 1,
                F.length("name_b"),
                F.length("name_b") + 1,
            )
        ),
    )
    pairs = a.join(b, "blk").filter(F.col("name_a") < F.col("name_b"))
    return (
        pairs.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
        .orderBy("dist", "name_a", "name_b")
    )


@register(
    "semistructured_props_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS total_k,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS DOUBLE)
             / count(*) AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="semi-structured column (the reference's JSONB details, "
    "schema.sql:199 / SURVEY §1.1): from_json with an explicit "
    "StructType parses once into a typed nested column, then plain "
    "typed aggregation — integer sums stay exact, avg derived from "
    "them. Schema-on-read at the edge, typed columns everywhere else.",
)
def semistructured_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    p = ev.withColumn("p", F.from_json("props", schema))
    return (
        p.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("p.k").alias("total_k"),
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
            (F.sum("p.k").cast("double") / F.count("*")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


_CENTROID_ORACLE = f"""
    WITH e AS (SELECT label, unnest(embedding) AS val,
                      unnest(range(0, len(embedding))) AS pos
               FROM embeddings),
    a AS (SELECT label, pos,
                 CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,10)))
                      AS DOUBLE) AS s,
                 count(*) AS c
          FROM e GROUP BY label, pos)
    SELECT label,
           {PT.vec_csv6(f"array_agg({PT.round6('s / c', D)} ORDER BY pos)", D)}
             AS centroid_csv,
           max(c) AS n_vectors
    FROM a GROUP BY label ORDER BY label
"""


@register(
    "embedding_label_centroids",
    oracle=_CENTROID_ORACLE,
    doc="per-label centroid (mean vector): posexplode -> decimal "
    "partial sums per (label, dim) -> re-assemble ordered array. The "
    "k-means/summarization primitive for embedding tables; decimal "
    "sums keep it order-independent, round6 absorbs the one-ulp "
    "double->decimal rounding-mode gap between engines. Shuffle is "
    "labels x dims cells, independent of corpus size.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    agg = pos.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("double").cast("decimal(27,10)"))
        .cast("double")
        .alias("s"),
        F.count("*").alias("c"),
    )
    agg = agg.withColumn("m", F.expr(PT.round6("s / c", S)))
    # gate-facing select: serialize the mean vector (the driver's
    # canonicalizer cannot hash raw array columns).
    return (
        agg.groupBy("label")
        .agg(
            F.expr(
                PT.vec_csv6(
                    "transform(array_sort(collect_list(struct(pos, m))),"
                    " x -> x.m)",
                    S,
                )
            ).alias("centroid_csv"),
            F.max("c").alias("n_vectors"),
        )
        .orderBy("label")
    )


@register(
    "shipping_priority_topk",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1996-03-15'
      AND l_shipdate > DATE '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    bench=True,
    doc="TPC-H Q3 shape (shipping priority): selective dim filter "
    "broadcast into a two-level fact join, partial-agg before the "
    "group shuffle, TakeOrderedAndProject top-10. The headline "
    "shuffle-heavy join in the bench set.",
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("date")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("date")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    j = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Iterative algorithm: 2 Lloyd iterations of k-means over embeddings,
# deterministic init (first-k vectors), hash-gated via an unrolled oracle.
# ---------------------------------------------------------------------------

def _assign_sql(vec_table: str, cent_table: str) -> str:
    """DuckDB: nearest centroid by max dot (unit-ish vectors), ties to
    the lowest centroid_id."""
    dot = PT.dot_double("e.embedding", "c.c_vec", D)
    return f"""
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dot} DESC, c.centroid_id) AS rn
        FROM {vec_table} e, {cent_table} c) t
      WHERE rn = 1
    """


def _means_sql(assign: str) -> str:
    """DuckDB: per-centroid mean vector, decimal sums + round6 (the
    bit-stable recipe from embedding_label_centroids)."""
    return f"""
      SELECT centroid_id,
             array_agg(m ORDER BY pos) AS c_vec
      FROM (
        SELECT centroid_id, pos,
               {PT.round6('CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / count(*)', D)} AS m
        FROM (
          SELECT a.centroid_id, unnest(e.embedding) AS val,
                 unnest(range(0, len(e.embedding))) AS pos
          FROM ({assign}) a JOIN embeddings e USING (vec_id)
        ) x GROUP BY centroid_id, pos
      ) y GROUP BY centroid_id
    """


_KMEANS_ORACLE = f"""
    WITH c0 AS (
      SELECT vec_id AS centroid_id, embedding AS c_vec
      FROM embeddings WHERE vec_id < 8
    ),
    a1 AS ({_assign_sql('embeddings', 'c0')}),
    c1 AS ({_means_sql('SELECT * FROM a1')}),
    a2 AS ({_assign_sql('embeddings', 'c1')})
    SELECT centroid_id, count(*) AS n_members
    FROM a2 GROUP BY centroid_id ORDER BY centroid_id
"""


def _assign_spark(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    # ann.ivf_assign inlines the k centroids as an array-of-structs
    # literal (argmax via struct max), so assignment is pure map-side —
    # no crossJoin row blowup and no per-vector window shuffle of the
    # corpus. Same tie-break (smaller centroid id), same bits.
    from ..operators.ann import ivf_assign

    return ivf_assign(vecs, cents).select("vec_id", "centroid_id")


def _means_spark(assign: DataFrame, vecs: DataFrame) -> DataFrame:
    pos = assign.join(vecs, "vec_id").select(
        "centroid_id", F.posexplode("embedding").alias("pos", "val")
    )
    agg = pos.groupBy("centroid_id", "pos").agg(
        F.sum(F.col("val").cast("double").cast("decimal(27,10)"))
        .cast("double")
        .alias("s"),
        F.count("*").alias("c"),
    )
    agg = agg.withColumn("m", F.expr(PT.round6("s / c", S)))
    return agg.groupBy("centroid_id").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").alias(
            "c_vec"
        )
    )


@register(
    "kmeans_two_iterations",
    oracle=_KMEANS_ORACLE,
    doc="iterative algorithm (Lloyd's k-means, k=8, 2 iterations) as a "
    "DataFrame loop: broadcast-centroid assignment (argmax dot) -> "
    "decimal-exact mean recomputation -> re-assignment; deterministic "
    "first-k init makes the whole trajectory hash-checkable against an "
    "unrolled SQL oracle. The per-iteration plan is the IVF training "
    "step: one narrow pass + a (k x dims)-sized shuffle, independent "
    "of corpus size — at 100 TB, iterations cost scans, not state.",
)
def kmeans_two_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    c0 = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    a1 = _assign_spark(e, c0)
    c1 = _means_spark(a1, e)
    a2 = _assign_spark(e, c1)
    return (
        a2.groupBy("centroid_id")
        .agg(F.count("*").alias("n_members"))
        .orderBy("centroid_id")
    )


@register(
    "large_volume_customers",
    oracle="""
    SELECT c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate
    HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250
    ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
    doc="TPC-H Q18 shape: aggregate + HAVING over the order join, "
    "top-20. Catalyst runs HAVING as a post-aggregation filter on the "
    "already-shuffled groups — at 100 TB the partial aggregation and "
    "the quantity threshold together shrink the data before any "
    "further join or sort.",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    agg = (
        j.groupBy("c_name", "o_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q")
        )
        .filter(F.col("_q") > 250)
    )
    return (
        agg.select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.col("_q").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "returned_items_report",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): returnflag filter "
    "pushed to the lineitem scan, date filter to orders, nation "
    "broadcast, one orderkey shuffle, top-20 by lost revenue.",
)
def returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Curation: deterministic stratified split + PII redaction (round 2).
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
    WITH b AS (
      SELECT source, doc_id, {PT.poly_hash('text', D)} % 100 AS bucket
      FROM documents
    ),
    s AS (
      SELECT source, doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    )
    SELECT source, split, count(*) AS n_docs,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM s GROUP BY source, split ORDER BY source, split
    """


@register(
    "stratified_split",
    oracle=_SPLIT_ORACLE,
    doc="deterministic train/val/test split (80/10/10) stratified per "
    "source: the split is a pure function of the CONTENT hash, so "
    "re-runs, retries, and any partitioning assign every document to "
    "the same split — and a near-duplicate's split correlates with "
    "its content, not its arrival order. Map-side bucket + one "
    "grouped count; no fact-side shuffle beyond the rollup.",
)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.expr(PT.poly_hash("text", S)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("source", "doc_id", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "split")
    )


#: Synthetic PII is composed from customer rows (the driver corpus has
#: none), same construction discipline as parties_grammar: build the
#: dirty text deterministically in BOTH engines, then redact.
_PII_EMAIL_RE = r"[a-z0-9#._-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE_RE = r"\(\d{3}\) \d{3}-\d{4}"

_PII_ORACLE = f"""
    WITH base AS (
      SELECT c_custkey AS id,
             concat('contact ', lower(replace(c_name, ' ', '.')),
                    '@example.com or (', CAST(100 + c_custkey % 900 AS VARCHAR),
                    ') 555-', CAST(1000 + c_custkey % 9000 AS VARCHAR),
                    ' re account ', c_mktsegment) AS text
      FROM customer
    ),
    red AS (
      SELECT id,
             CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS BIGINT)
             + CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS BIGINT)
               AS n_redacted,
             regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
                            '{_PII_PHONE_RE}', '[PHONE]', 'g') AS clean
      FROM base
    )
    SELECT id, n_redacted, clean FROM red ORDER BY id LIMIT 100
    """


@register(
    "pii_redaction",
    oracle=_PII_ORACLE,
    doc="PII scrub for training corpora: regex redaction of emails and "
    "phone numbers with per-row redaction counts (the audit metric a "
    "compliance pass needs). Pure map-side regexp_replace — stays in "
    "whole-stage codegen, no UDF, no shuffle; the synthetic dirty "
    "text is composed deterministically from customer rows in both "
    "engines.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    text = F.concat(
        F.lit("contact "),
        F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
        F.lit("@example.com or ("),
        (F.lit(100) + F.col("c_custkey") % 900).cast("string"),
        F.lit(") 555-"),
        (F.lit(1000) + F.col("c_custkey") % 9000).cast("string"),
        F.lit(" re account "),
        F.col("c_mktsegment"),
    )
    base = cust.select(F.col("c_custkey").alias("id"), text.alias("text"))
    n_red = (
        F.regexp_count("text", F.lit(_PII_EMAIL_RE))
        + F.regexp_count("text", F.lit(_PII_PHONE_RE))
    ).cast("bigint")
    clean = F.regexp_replace(
        F.regexp_replace("text", _PII_EMAIL_RE, "[EMAIL]"),
        _PII_PHONE_RE,
        "[PHONE]",
    )
    return (
        base.select("id", n_red.alias("n_redacted"), clean.alias("clean"))
        .orderBy("id")
        .limit(100)
    )


_MIX_BUDGET = 12_000
_MIX_HOT = ("src0", "src1", "src2", "src3", "src4")
_MIX_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({{toks}}) AS BIGINT) AS n_tok,
             {{ph}} % 1000000 AS bucket
      FROM documents
    ),
    tot AS (
      SELECT source, SUM(n_tok) AS dom_tok,
             CASE WHEN source IN {_MIX_HOT!r} THEN 5 ELSE 1 END AS w
      FROM d GROUP BY source
    ),
    thr AS (
      SELECT source,
             LEAST(1000000,
                   (CAST(1000000 AS BIGINT) * {_MIX_BUDGET} * w)
                     // (SUM(w) OVER () * dom_tok))
               AS thr
      FROM tot
    )
    SELECT d.doc_id, d.source, d.n_tok
    FROM d JOIN thr USING (source)
    WHERE d.bucket < thr.thr
    ORDER BY d.doc_id
"""


@register(
    "domain_mixture_sample",
    oracle=_MIX_ORACLE.format(toks=PT.tokens("text", D), ph=PT.poly_hash("text", D)),
    doc="domain-mixture sampling (operators/mixture.py): sample each "
    "source toward a target token mix (src0-4 upweighted 5x, budget "
    f"{_MIX_BUDGET} tokens) with content-hash membership — "
    "deterministic under retries/repartitioning — and all-integer "
    "threshold arithmetic so the oracle reproduces the sample "
    "bit-for-bit. Upweighted domains cap at rate 1 (take-all), the "
    "rest subsample: both branches exercised at the gate scale. "
    "Only non-map-side work is the #domains-row token aggregate, "
    "broadcast back; the fact table never shuffles.",
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mixture import sample_to_mixture

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.expr(PT.tokens("text", S))).cast("bigint").alias("n_tok"),
        (F.expr(PT.poly_hash("text", S)) % 1_000_000).alias("bucket"),
    )
    sampled = sample_to_mixture(
        d,
        domain_col="source",
        n_tokens_col="n_tok",
        bucket_col="bucket",
        budget=_MIX_BUDGET,
        weights={s: 5 for s in _MIX_HOT},
    )
    return sampled.select("doc_id", "source", "n_tok").orderBy("doc_id")


_Z_QTY = (5.0, 15.0)
_Z_PRICE = (20_000.0, 40_000.0)


@register(
    "layout_zordered_scan",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_quantity BETWEEN {_Z_QTY[0]} AND {_Z_QTY[1]}
      AND l_extendedprice BETWEEN {_Z_PRICE[0]} AND {_Z_PRICE[1]}
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Layout-infrastructure verification: rewrite lineitem through "
    "write_zordered (Morton-clustered on (l_quantity, "
    "l_extendedprice), range-partitioned files) and answer a "
    "two-predicate aggregate THROUGH the store; the oracle runs on "
    "the plain table, so a green row proves the Z-ordered rewrite is "
    "faithful. The payoff — per-file min/max stats narrow on BOTH "
    "columns, so the scan prunes files a single-column sort cannot — "
    "is asserted from parquet footers in tests/test_layout.py. Sums "
    "go through DECIMAL(18,4) per row so both engines add exactly "
    "(operators/layout.py).",
)
def layout_zordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import layout

    li = _t(spark, sf_dir, "lineitem")
    # pid-suffixed so concurrent processes (driver + a local
    # oracle_check, say) can never interleave overwrite and scan
    tag = f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}_{os.getpid()}"
    store = os.path.join(
        tempfile.gettempdir(), f"spark_graft_zstore_{tag}", "lineitem_z"
    )
    layout.write_zordered(
        li, store, "l_quantity", "l_extendedprice", n_files=8, bits=10
    )
    z = spark.read.parquet(store)
    return (
        z.filter(
            F.col("l_quantity").between(*_Z_QTY)
            & F.col("l_extendedprice").between(*_Z_PRICE)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "snapshot_table_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, text, source FROM documents WHERE doc_id < 400
    ),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text,
             source
      FROM documents WHERE doc_id >= 100
    )
    SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'insert'
                WHEN v2.doc_id IS NULL THEN 'delete'
                WHEN (v1.text IS DISTINCT FROM v2.text)
                  OR (v1.source IS DISTINCT FROM v2.source) THEN 'update'
           END AS change
    FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
       OR (v1.text IS DISTINCT FROM v2.text)
       OR (v1.source IS DISTINCT FROM v2.source)
    ORDER BY doc_id
    """,
    doc="Snapshot diff / CDC between two table versions (what Delta's "
    "CHANGE DATA FEED materializes; pairs with the staged store's "
    "time travel): row identity on the key, row content on a map-side "
    "sha2 over the compare columns with NULL sentinels, so the full "
    "outer join shuffles (key, 64-char hash) — never the payload. "
    "Here v1/v2 are deterministic slices of documents (deletes "
    "<100, inserts >=400, every 7th doc text-rewritten); the oracle "
    "reproduces the same diff with IS DISTINCT FROM — logic-level "
    "equivalence of the hash shortcut (operators/upsert.py "
    "snapshot_diff).",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.upsert import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    v1 = docs.filter(F.col("doc_id") < 400)
    v2 = docs.filter(F.col("doc_id") >= 100).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper("text")).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(v1, v2, ["doc_id"], ["text", "source"]).orderBy(
        "doc_id"
    )


_PR_SCALE = 1_000_000_000_000


@register(
    "pagerank_trade_network",
    bench=True,
    oracle=f"""
    WITH raw AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
    r0 AS (SELECT node, ({_PR_SCALE} // n) AS rank_units FROM nodes, nn),
    c1 AS (SELECT e.dst AS node, sum(r.rank_units // d.out_deg) AS cin
           FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    d1 AS (SELECT coalesce(sum(r.rank_units), 0) AS dang
           FROM r0 r LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    r1 AS (SELECT nodes.node,
                  ((15 * ({_PR_SCALE} // n)) // 100)
                  + ((85 * (coalesce(c1.cin, 0) + (d1.dang // n))) // 100)
                    AS rank_units
           FROM nodes CROSS JOIN nn CROSS JOIN d1
           LEFT JOIN c1 ON c1.node = nodes.node),
    c2 AS (SELECT e.dst AS node, sum(r.rank_units // d.out_deg) AS cin
           FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    d2 AS (SELECT coalesce(sum(r.rank_units), 0) AS dang
           FROM r1 r LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    r2 AS (SELECT nodes.node,
                  ((15 * ({_PR_SCALE} // n)) // 100)
                  + ((85 * (coalesce(c2.cin, 0) + (d2.dang // n))) // 100)
                    AS rank_units
           FROM nodes CROSS JOIN nn CROSS JOIN d2
           LEFT JOIN c2 ON c2.node = nodes.node)
    SELECT node, CAST(rank_units AS BIGINT) AS rank_units
    FROM r2 ORDER BY rank_units DESC, node LIMIT 20
    """,
    doc="fixed-point PageRank, 2 iterations, over the bidirectional "
    "customer<->supplier trade graph (operators/graph.pagerank): rank "
    "lives in exact BIGINT units of 1e-12 total mass, contributions "
    "are integer DIV, and sums are exact — so the iterative algorithm "
    "is bit-identical across engines and partitionings (PageRank as a "
    "deterministic quality feature, the CommonCrawl harmonic-rank "
    "role). Each iteration: one src join + one dst shuffle-agg + a "
    "1-row dangling probe (collected, folded back as a literal); "
    "the rank frontier localCheckpoints so "
    "lineage stays O(1) per round. Oracle unrolls the identical two "
    "iterations in SQL.",
)
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # pairs is distinct and the reversed half is disjoint from the
    # forward half (the 'c'/'s' prefixes make src != dst), so the
    # union is certifiably multi-edge-free: skip the operator's dedup
    # shuffle over the full edge list
    out = graph.pagerank(edges, iterations=2, assume_distinct=True)
    return out.orderBy(F.desc("rank_units"), "node").limit(20)


@register(
    "orc_roundtrip_scan",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Format-interchange verification: rewrite orders through ORC "
    "(the Hive/Trino estate format) "
    "and aggregate THROUGH the ORC scan with a pushed filter; the "
    "oracle runs on the plain parquet table, so a green row proves "
    "the round-trip is faithful. The scan keeps parquet-class "
    "machinery — vectorized batches, column pruning, stripe-level "
    "predicate pushdown — asserted from the plan in "
    "tests/test_plans_physical.py. Decimal-exact sums.",
)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    o = _t(spark, sf_dir, "orders")
    tag = f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}_{os.getpid()}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_orc_{tag}", "orders")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "join_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS key_rows
      FROM events GROUP BY user_id),
    tot AS (SELECT CAST(sum(key_rows) AS BIGINT) AS total_rows FROM counts)
    SELECT user_id, key_rows,
           CAST((key_rows * 1000000) // total_rows AS BIGINT) AS share_ppm,
           total_rows,
           ((key_rows * 1000000) // total_rows) > 31250 AS recommend_salt
    FROM counts, tot
    ORDER BY key_rows DESC, user_id ASC NULLS FIRST LIMIT 10
    """,
    doc="join-key skew diagnostic (operators/topk.key_skew_profile): "
    "top-10 heaviest events.user_id keys with exact integer ppm "
    "share and a recommend_salt flag (share > 1/32 = one full "
    "shuffle partition at session parallelism) — the measurement you "
    "run BEFORE choosing salted_join over a plain join. One count "
    "aggregation (counts shuffle uniformly even when the rows are "
    "skewed) + a broadcast scalar + TakeOrdered over the tiny count "
    "table.",
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top=10)


_HLL_B = 8


def _hll_oracle() -> str:
    from ..operators.sketches import hll_sql_parts

    from ..operators.sketches import hll_coefficient

    p = hll_sql_parts("k", _HLL_B, D)
    m, shift = int(p["m"]), int(p["shift"])
    est = f"{hll_coefficient(_HLL_B)!r} / CAST(s_scaled AS DOUBLE)"
    return f"""
    WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
                  WHERE l_partkey IS NOT NULL),
    r AS (SELECT ({p['bucket']}) AS bucket, max({p['rank']}) AS max_rank
          FROM keys GROUP BY 1),
    allb AS (SELECT CAST(unnest(range({m})) AS BIGINT) AS bucket),
    f AS (SELECT allb.bucket, coalesce(max_rank, 0) AS mr
          FROM allb LEFT JOIN r USING (bucket)),
    agg AS (SELECT CAST(count(CASE WHEN mr > 0 THEN 1 END) AS BIGINT)
                     AS n_buckets_used,
                   CAST(sum(CAST(1 AS BIGINT) << CAST({shift} - mr AS INT))
                        AS BIGINT) AS s_scaled
            FROM f),
    truth AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS true_distinct
              FROM lineitem WHERE l_partkey IS NOT NULL)
    SELECT CAST({m} AS BIGINT) AS m, n_buckets_used, s_scaled,
           {PT.round6(est, D)} AS est_hll, true_distinct
    FROM agg, truth
    """


@register(
    "hll_distinct_parts",
    oracle=_hll_oracle(),
    doc="HyperLogLog distinct-count of lineitem part keys "
    "(sketches.hll_register/hll_estimate) — the cardinality member "
    "of the sketch triad (CMS frequency, Bloom membership, HLL "
    "distinct): 2^8 registers built in one bounded-key aggregation "
    "(register table size is constant at ANY corpus size, merges "
    "across batches by register-wise max), folded into ONE exact "
    "BIGINT harmonic sum so the only float step is a single literal "
    "division — bit-reproducible, no libm. Raw Flajolet estimator "
    "with the exact distinct reported beside it, so the sketch error "
    "is value-hash-gated rather than hidden (the cms_heavy_hitters "
    "convention).",
)
def hll_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    keys = li.filter(F.col("l_partkey").isNotNull()).selectExpr(
        "CAST(l_partkey AS STRING) AS k"
    )
    regs = sketches.hll_register(keys, "k", b=_HLL_B)
    est = sketches.hll_estimate(regs, b=_HLL_B)
    truth = li.filter(F.col("l_partkey").isNotNull()).agg(
        F.countDistinct("l_partkey").cast("bigint").alias("true_distinct")
    )
    return est.crossJoin(F.broadcast(truth))


_COMPACT_SEQ = iter(range(1_000_000))


@register(
    "compaction_roundtrip_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price,
           CAST(min(l_orderkey) AS BIGINT) AS min_key,
           CAST(max(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="small-file compaction verification (layout.compact_files — "
    "the OPTIMIZE/rewriteDataFiles maintenance op): lineitem is "
    "deliberately fragmented into 64 splinter files, compacted back "
    "through the size-targeted range rewrite (sorted on l_orderkey "
    "so footer stats survive compaction), and a grouped aggregate "
    "runs THROUGH the compacted store; the oracle reads the plain "
    "table, so a green row proves the rewrite is faithful. File-"
    "count collapse and stats preservation are asserted in "
    "tests/test_layout.py.",
)
def compaction_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import layout

    li = _t(spark, sf_dir, "lineitem")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_COMPACT_SEQ)}"
    )
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_compact_{tag}")
    frag, tidy = os.path.join(base, "frag"), os.path.join(base, "tidy")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    layout.compact_files(
        spark, frag, tidy, target_file_bytes=64 << 20, sort_col="l_orderkey"
    )
    z = spark.read.parquet(tidy)
    return (
        z.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
            F.min("l_orderkey").cast("bigint").alias("min_key"),
            F.max("l_orderkey").cast("bigint").alias("max_key"),
        )
        .orderBy("l_returnflag")
    )


_BUCKET_SEQ = iter(range(1_000_000))


@register(
    "bucketed_join_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="bucketed co-located join (the pre-shuffled layout that makes "
    "repeated fact-fact joins shuffle-FREE at 100 TB): orders and "
    "lineitem are written as bucketed+sorted tables on the join key "
    "(8 buckets, saveAsTable), and the orderkey equi-join then reads "
    "bucket i against bucket i with NO Exchange on either side — the "
    "shuffle was paid once at write time and amortizes over every "
    "future join on the key. The aggregate runs through the bucketed "
    "join against a plain-join oracle (faithful rewrite); "
    "tests/test_layout.py asserts the join plan has zero shuffle "
    "exchanges under the bucketed scan.",
)
def bucketed_join_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    seq = next(_BUCKET_SEQ)
    import hashlib as _hl

    tag = f"{_hl.sha256(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}_{seq}"
    t_ord, t_li = f"b_orders_{tag}", f"b_lineitem_{tag}"
    _t(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable(t_ord)
    _t(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable(t_li)
    o = spark.table(t_ord).filter(F.col("o_orderstatus") == "F")
    li = spark.table(t_li)
    joined = o.join(li, li.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


_EVO_SEQ = iter(range(1_000_000))


@register(
    "schema_evolution_scan",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, source, CAST(NULL AS BIGINT) AS quality_tier
      FROM documents WHERE doc_id < 250
    ),
    v2 AS (
      SELECT doc_id, source, CAST(doc_id % 5 AS BIGINT) AS quality_tier
      FROM documents WHERE doc_id >= 250
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(quality_tier) AS BIGINT) AS n_with_tier,
           CAST(sum(coalesce(quality_tier, -1)) AS BIGINT) AS tier_sum
    FROM u GROUP BY source ORDER BY source
    """,
    doc="schema-evolution read (mergeSchema): a landed table gains a "
    "column mid-stream — batch 1 is written WITHOUT quality_tier, "
    "batch 2 WITH it — and a single mergeSchema read reconciles both "
    "generations (old files surface NULL for the new column), "
    "aggregated per source with the NULL/coalesce semantics the "
    "oracle mirrors via an explicit UNION. The additive-column path "
    "is the only evolution a 100 TB append-only table should use: "
    "renames/retypes force rewrites; adds are free at read time.",
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:10]}"
        f"_{os.getpid()}_{next(_EVO_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_evo_{tag}")
    docs.filter(F.col("doc_id") < 250).select("doc_id", "source").write.mode(
        "overwrite"
    ).parquet(store)
    docs.filter(F.col("doc_id") >= 250).select(
        "doc_id",
        "source",
        (F.col("doc_id") % 5).cast("bigint").alias("quality_tier"),
    ).write.mode("append").parquet(store)
    merged = spark.read.option("mergeSchema", "true").parquet(store)
    return (
        merged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("quality_tier").cast("bigint").alias("n_with_tier"),
            F.sum(F.coalesce(F.col("quality_tier"), F.lit(-1)))
            .cast("bigint")
            .alias("tier_sum"),
        )
        .orderBy("source")
    )


def _hll_grouped_oracle() -> str:
    from ..operators.sketches import hll_coefficient, hll_sql_parts

    p = hll_sql_parts("k", _HLL_B, D)
    m, shift = int(p["m"]), int(p["shift"])
    est = f"{hll_coefficient(_HLL_B)!r} / CAST(s_scaled AS DOUBLE)"
    return f"""
    WITH keys AS (SELECT event_type, CAST(user_id AS VARCHAR) AS k
                  FROM events WHERE user_id IS NOT NULL),
    r AS (SELECT event_type, ({p['bucket']}) AS bucket,
                 max({p['rank']}) AS max_rank
          FROM keys GROUP BY 1, 2),
    agg AS (SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_buckets_used,
                   CAST(sum(CAST(1 AS BIGINT) << CAST({shift} - max_rank AS INT))
                        + ({m} - count(*)) * (CAST(1 AS BIGINT) << {shift})
                        AS BIGINT) AS s_scaled
            FROM r GROUP BY 1),
    truth AS (SELECT event_type,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
              FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT agg.event_type, n_buckets_used, s_scaled,
           {PT.round6(est, D)} AS est_hll, true_distinct
    FROM agg JOIN truth USING (event_type)
    ORDER BY event_type
    """


@register(
    "hll_distinct_users_by_type",
    oracle=_hll_grouped_oracle(),
    doc="group-wise HLL (sketches.hll_register_grouped): distinct "
    "users per event type with 2^8 registers of state per group — "
    "the approx_count_distinct shape, but portable, mergeable across "
    "batches by register-wise max, and value-hash-gated with the "
    "exact distinct beside each estimate. Empty registers are "
    "accounted arithmetically per group (m - bucket_count), never "
    "materialized.",
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches
    from ..session import normalize_event_ts

    ev = normalize_event_ts(_t(spark, sf_dir, "events"))
    keys = ev.filter(F.col("user_id").isNotNull()).selectExpr(
        "event_type", "CAST(user_id AS STRING) AS k"
    )
    regs = sketches.hll_register_grouped(keys, ["event_type"], "k", b=_HLL_B)
    est = sketches.hll_estimate_grouped(regs, ["event_type"], b=_HLL_B)
    truth = ev.filter(F.col("user_id").isNotNull()).groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("true_distinct")
    )
    return est.join(truth, "event_type").orderBy("event_type")


@register(
    "bloom_prefiltered_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_price
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_totalprice > 200000.0
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
    doc="Bloom-prefiltered join (the runtime-filter pattern Spark's "
    "own bloom-filter join injects, spelled explicitly with the "
    "portable bitmap): the selective side's join keys compress to a "
    "broadcast Bloom, the 100 TB side drops non-matching rows "
    "MAP-SIDE before the shuffle, and the exact join then runs on "
    "the survivors — false positives pass the prefilter and are "
    "eliminated by the join itself, so the result is exactly the "
    "plain join (which is the oracle) while the shuffle carries only "
    "~matching + epsilon rows. The correctness-free speedup is the "
    "point: the bitmap can be arbitrarily under-sized and only "
    "performance degrades.",
)
def bloom_prefiltered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    okeys = o.selectExpr(
        f"{PT.poly_hash('CAST(o_orderkey AS STRING)', S)} AS kh"
    )
    bloom = sketches.bloom_build(okeys, "kh", k=4, m_words=256)
    # fold the KB-scale bitmap into the plan as a literal so the
    # prefilter is a pure map-side projection — zero shuffles on the
    # fact side before the join (asserted in tests/test_pretrain_ops)
    bits = sketches.bloom_bits_literal(bloom, m_words=256)
    pred = sketches.bloom_might_contain_sql(
        PT.poly_hash("CAST(l_orderkey AS STRING)", S), bits, k=4, dialect=S
    )
    survivors = li.filter(F.expr(pred))
    joined = survivors.join(o, survivors.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "triangle_count_copurchase",
    bench=True,
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS lo,
                      greatest(a.l_partkey, b.l_partkey) AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
      FROM e e1
      JOIN e e2 ON e2.lo = e1.hi
      JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    pv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT unnest([x, y, z]) AS v FROM tri) GROUP BY v
    )
    SELECT CAST(v AS BIGINT) AS v, n_triangles
    FROM pv ORDER BY n_triangles DESC, v LIMIT 20
    """,
    doc="per-vertex triangle counting (graph.triangle_counts) over "
    "the co-purchase graph (parts sharing an order): the clustering "
    "signal, computed with degree-based edge orientation so every "
    "wedge pivots on its lowest-degree endpoint — fan-out bounded by "
    "arboricity^2 instead of hub-degree^2, each triangle generated "
    "exactly once. The oracle is the id-ordered brute force: "
    "orientation changes which joins run, never the triangle set.",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # per-order pair expansion (graph.copurchase_pairs) replaces the
    # orderkey self-join; triangle_counts dedups to the edge set
    # internally, so no .distinct() here (same as the join form)
    edges = graph.copurchase_pairs(li, lo="pa", hi="pb")
    pv = graph.triangle_counts(edges, a="pa", b="pb")
    return (
        pv.select(F.col("v").cast("bigint").alias("v"), "n_triangles")
        .orderBy(F.desc("n_triangles"), "v")
        .limit(20)
    )


@register(
    "frequent_brand_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), marg AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_orders FROM ob GROUP BY b
    )
    SELECT a.b AS brand_a, bb.b AS brand_b,
           CAST(count(*) AS BIGINT) AS support,
           any_value(ma.n_orders) AS n_orders_a,
           any_value(mb.n_orders) AS n_orders_b
    FROM ob a
    JOIN ob bb ON a.o = bb.o AND a.b < bb.b
    JOIN marg ma ON ma.b = a.b
    JOIN marg mb ON mb.b = bb.b
    GROUP BY 1, 2 HAVING count(*) >= 400
    ORDER BY support DESC, brand_a, brand_b
    """,
    doc="market-basket frequent-pair mining (the A-priori support "
    "count): baskets are orders, items are part brands; distinct "
    "(order, brand) pairs self-join on the basket key to emit "
    "co-occurrences, counted and support-filtered, with per-brand "
    "marginals attached so lift/confidence are one division away. "
    "Scale shape: the self-join is co-partitioned on the basket key "
    "(both sides arrive from the same shuffle), per-basket fan-out is "
    "k(k-1)/2 bounded by basket size (TPC-H <= 7 items; a heavy-basket "
    "cap -- filter baskets above a length bound before pairing -- is "
    "the standard guard at 100 TB), and the marginals table is "
    "dictionary-sized, broadcast. No all-pairs over the catalog, "
    "ever: only brands that actually co-occur in a basket are paired.",
)
def frequent_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    marg = ob.groupBy("b").agg(F.count("*").cast("bigint").alias("n_orders"))
    a = ob.alias("a")
    bb = ob.alias("bb")
    pairs = (
        a.join(bb, "o")
        .filter(F.col("a.b") < F.col("bb.b"))
        .select(F.col("a.b").alias("brand_a"), F.col("bb.b").alias("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 400)
    )
    ma = marg.select(
        F.col("b").alias("brand_a"), F.col("n_orders").alias("n_orders_a")
    )
    mb = marg.select(
        F.col("b").alias("brand_b"), F.col("n_orders").alias("n_orders_b")
    )
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .select(
            "brand_a", "brand_b", "support", "n_orders_a", "n_orders_b"
        )
        .orderBy(F.desc("support"), "brand_a", "brand_b")
    )


_SUPPORT2_EDGES_SQL = """
  SELECT least(a.l_partkey, b.l_partkey) AS lo,
         greatest(a.l_partkey, b.l_partkey) AS hi
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _support2_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph at support >= 2: parts sharing >= 2 orders.
    The support filter is what keeps the graph sparse — the raw
    co-purchase graph is near-complete on dense catalogs."""
    from ..operators import graph

    # copurchase_pairs' per-order collect_set subsumes the old
    # up-front li.distinct() (within-order dedup), so the pair count
    # per (lo, hi) is still the number of DISTINCT orders sharing it
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        graph.copurchase_pairs(li)
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("lo", "hi")
    )


def _kcore_oracle(sf_dir: str) -> str:
    """Python-twin oracle: peel the support-2 co-purchase graph in
    pure Python (deterministic set arithmetic) and emit the core as a
    VALUES table — the bpe_train_merges / textstats convention for
    iterative algorithms no single SQL statement expresses."""
    import collections

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    adj: dict[int, set[int]] = collections.defaultdict(set)
    for lo, hi in con.execute(_SUPPORT2_EDGES_SQL).fetchall():
        adj[int(lo)].add(int(hi))
        adj[int(hi)].add(int(lo))
    con.close()
    k = 3
    deg = {v: len(n) for v, n in adj.items()}
    live = set(adj)
    while True:
        drop = {v for v in live if deg[v] < k}
        if not drop:
            break
        for v in drop:
            live.discard(v)
            for u in adj[v]:
                if u in live:
                    deg[u] -= 1
    if not live:
        return "SELECT CAST(NULL AS BIGINT) AS part, CAST(NULL AS BIGINT) AS core_degree WHERE FALSE"
    rows = ", ".join(f"({v}, {deg[v]})" for v in sorted(live))
    return (
        f"SELECT CAST(part AS BIGINT) AS part, "
        f"CAST(core_degree AS BIGINT) AS core_degree "
        f"FROM (VALUES {rows}) AS t(part, core_degree) ORDER BY part"
    )


@register(
    "kcore_copurchase",
    bench=True,
    oracle=_kcore_oracle,
    doc="3-core of the support-2 co-purchase graph (graph.k_core): "
    "iterative peeling — drop sub-k vertices, re-count, repeat to a "
    "measured fixpoint (10 rounds at sf0.01). Each round is one "
    "degree aggregate + two vertex-key semi-joins, O(E) rows, "
    "localCheckpoint keeping lineage O(1); max_rounds raises rather "
    "than returning a half-peeled graph. The oracle is a pure-Python "
    "peeling twin emitted as VALUES (the bpe_train_merges convention "
    "for iterative fixpoints). Core membership AND in-core degree are "
    "both pinned by the hash.",
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    edges = _support2_edges(spark, sf_dir)
    core = graph.k_core(edges, k=3, a="lo", b="hi")
    return core.select(
        F.col("v").cast("bigint").alias("part"), "core_degree"
    ).orderBy("part")


@register(
    "bfs_copurchase_distances",
    bench=True,
    oracle="""
    WITH RECURSIVE
    e0 AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS lo,
                      greatest(a.l_partkey, b.l_partkey) AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT lo AS s, hi AS d FROM e0 UNION ALL SELECT hi, lo FROM e0),
    bfs AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS dist
      UNION
      SELECT e.d AS v, bfs.dist + 1 AS dist
      FROM bfs JOIN e ON e.s = bfs.v
      WHERE bfs.dist < 3
    )
    SELECT CAST(v AS BIGINT) AS part, CAST(min(dist) AS BIGINT) AS dist
    FROM bfs GROUP BY v ORDER BY dist, part
    """,
    doc="3-hop BFS reachability from part 0 over the RAW co-purchase "
    "graph (graph.bfs_distances): BSP frontier expansion — join the "
    "frontier against the adjacency list, dedup, anti-join the "
    "settled set, so each vertex is labeled with its minimum hop "
    "count; O(E) per level, localCheckpoint per level, early exit on "
    "an empty frontier. The raw (support-1) graph keeps the frontier "
    "non-degenerate at EVERY scale factor — its density grows with "
    "the catalog, unlike the support-2 graph k-core peels (which "
    "thins as the catalog outgrows repeat co-purchases) — and "
    "max_depth=3 is the n-hop semantic cap that bounds the recursive "
    "oracle. The oracle is genuinely independent: DuckDB's recursive "
    "CTE explores (vertex, depth) pairs under the same cap and takes "
    "min(dist) — a different algorithm arriving at the same frontier "
    "labeling, which is exactly what the hash gate proves.",
)
def bfs_copurchase_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.copurchase_pairs(li).distinct()
    d = graph.bfs_distances(edges, source=0, a="lo", b="hi", max_depth=3)
    return d.select(
        F.col("v").cast("bigint").alias("part"),
        F.col("dist").cast("bigint").alias("dist"),
    ).orderBy("dist", "part")


_HLL_STORE_SEQ = iter(range(1_000_000))


@register(
    "hll_incremental_store",
    oracle=_hll_oracle(),
    doc="incremental cardinality through the STANDING register store "
    "(sketches.write_hll_registers / hll_estimate_from_store): the "
    "historical corpus (l_shipdate < 1996-01-01) writes its register "
    "batch once, the new batch appends its own, and the estimate "
    "folds ALL batches by register-wise max at read time -- the "
    "sketch-merge property (max is associative+commutative) is "
    "exactly why HLL exists at 100 TB: per-batch state is <= 2^b "
    "rows, appending IS the update, and the merged estimate must "
    "equal the single-pass full-corpus build, which is what gating "
    "it against the full-recompute oracle (the same SQL that gates "
    "hll_distinct_parts) proves.",
)
def hll_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    keys = li.filter(F.col("l_partkey").isNotNull()).select(
        F.expr("CAST(l_partkey AS STRING)").alias("k"), "l_shipdate"
    )
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_HLL_STORE_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_hll_{tag}")
    cut = "1996-01-01"
    sketches.write_hll_registers(
        keys.filter(F.col("l_shipdate") < cut), "k", store, b=_HLL_B,
        mode="overwrite",
    )
    sketches.write_hll_registers(
        keys.filter(F.col("l_shipdate") >= cut), "k", store, b=_HLL_B,
        mode="append",
    )
    est = sketches.hll_estimate_from_store(spark, store, b=_HLL_B)
    truth = li.filter(F.col("l_partkey").isNotNull()).agg(
        F.countDistinct("l_partkey").cast("bigint").alias("true_distinct")
    )
    return est.crossJoin(F.broadcast(truth))


_TLOG_SEQ = iter(range(1_000_000))


@register(
    "timetravel_snapshot_read",
    oracle="""
    SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    UNION ALL
    SELECT 1, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
    FROM orders WHERE o_orderstatus = 'F'
    ORDER BY version
    """,
    doc="time-travel reads through the transaction-log table format "
    "(operators/tlog.py — the lakehouse commit protocol in "
    "miniature): version 0 appends the pre-1996 orders, version 1 "
    "appends the rest, version 2 OVERWRITES with the 'F'-status "
    "subset; the query reads all three versions back through "
    "manifest replay and aggregates each. Gated against recomputing "
    "the same three snapshots from the raw table, which proves "
    "append accumulation, overwrite replacement, and historical "
    "readability in one hash. The scale point is the read protocol: "
    "a reader resolves a version to an EXPLICIT file list from one "
    "KB-scale manifest read — no O(files) directory LIST on object "
    "storage, no torn reads of half-committed data (files land "
    "before the manifest line commits them).",
)
def timetravel_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import tlog

    o = _t(spark, sf_dir, "orders")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_TLOG_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_tlog_{tag}")
    cut = "1996-01-01"
    tlog.commit(o.filter(F.col("o_orderdate") < cut), store, "append")
    tlog.commit(o.filter(F.col("o_orderdate") >= cut), store, "append")
    tlog.commit(o.filter(F.col("o_orderstatus") == "F"), store, "overwrite")

    def snap(version: int) -> DataFrame:
        return (
            tlog.read_version(spark, store, version)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(version).cast("bigint").alias("version"),
                "n_rows",
                "total_price",
            )
        )

    return (
        snap(0).unionByName(snap(1)).unionByName(snap(2)).orderBy("version")
    )


@register(
    "timetravel_pruned_scan",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey BETWEEN 100 AND 200
    """,
    doc="manifest-stats file skipping through the transaction log "
    "(operators/tlog.py, stats_col + prune — the Iceberg half of the "
    "format beside Delta-style replay): orders commit in three "
    "key-range batches whose per-file [min, max] o_orderkey lands in "
    "the manifest from the parquet FOOTERS (metadata-only, no data "
    "scan); the key-range read then drops non-overlapping files from "
    "ONE KB-scale manifest read before Spark ever sees the list, and "
    "parquet row-group stats prune within survivors — two "
    "independent skipping layers. Pruning is a superset guarantee "
    "(the row filter still applies), so gating the pruned read "
    "against the raw-table recomputation proves no file that "
    "mattered was skipped; tests/test_tlog.py asserts the skipping "
    "itself (inputFiles count).",
)
def timetravel_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import tlog

    o = _t(spark, sf_dir, "orders")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_TLOG_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_tlogp_{tag}")
    tlog.commit(
        o.filter(F.col("o_orderkey") < 500).coalesce(1),
        store, "append", stats_col="o_orderkey",
    )
    tlog.commit(
        o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 5000))
        .coalesce(1),
        store, "append", stats_col="o_orderkey",
    )
    tlog.commit(
        o.filter(F.col("o_orderkey") >= 5000).coalesce(1),
        store, "append", stats_col="o_orderkey",
    )
    return (
        tlog.read_version(spark, store, prune=(100, 200))
        .filter(F.col("o_orderkey").between(100, 200))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "cheapest_trade_routes",
    oracle="""
    WITH RECURSIVE
    lanes AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             count(*) AS cnt
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    e AS (SELECT src, dst, 1000000 // cnt AS w FROM lanes
          WHERE src <> dst),
    p AS (
      SELECT CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS cost, 0 AS hops
      UNION ALL
      SELECT e.dst, p.cost + e.w, p.hops + 1
      FROM p JOIN e ON e.src = p.v WHERE p.hops < 3
    )
    SELECT CAST(v AS BIGINT) AS nation, CAST(min(cost) AS BIGINT) AS cost
    FROM p GROUP BY v ORDER BY nation
    """,
    doc="weighted shortest paths within 3 hops (graph.bellman_ford): "
    "the supplier-nation -> customer-nation lane graph weighted by "
    "inverse shipment volume (1e6 DIV lane count — busy lanes are "
    "cheap, all-BIGINT so every path sum and min is exact), relaxed "
    "by synchronous min-plus rounds: one frontier-edge join + one "
    "vertex-key min-aggregate per round, O(E) rows, localCheckpoint "
    "O(1) lineage — BFS with unit weights generalized to real costs, "
    "completing the iterative-graph ladder (CC fixpoint, PageRank "
    "fixed-point, k-core peel, BFS frontier, Bellman-Ford min-plus). "
    "The oracle is independent: DuckDB's recursive CTE enumerates "
    "every <= 3-hop path and takes min(cost) — exponential-in-hops "
    "path listing vs linear relaxation arriving at identical costs.",
)
def cheapest_trade_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lanes = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.expr("1000000 DIV cnt").alias("w"))
    )
    d = graph.bellman_ford(lanes, source=0, rounds=3)
    return d.select(
        F.col("v").cast("bigint").alias("nation"),
        F.col("dist").cast("bigint").alias("cost"),
    ).orderBy("nation")


@register(
    "tlog_point_lookup",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             AS total_bal
    FROM customer WHERE c_mktsegment = 'BUILDING'
    GROUP BY c_mktsegment
    """,
    doc="point lookup through the per-file Bloom index "
    "(tlog.attach_bloom_index / read_point_lookup -- the Delta "
    "bloom-filter-index pattern): customers commit in three "
    "hash-split batches whose segment values INTERLEAVE across files "
    "(range stats prune nothing there -- exactly the case the Bloom "
    "index exists for... except segments appear in every batch, so "
    "here the index proves the SUPERSET contract rather than a skip: "
    "false positives and all-files-match both only widen the read, "
    "the row filter closes it). The skip itself is pinned by "
    "tests/test_tlog.py on value-partitioned batches; the gate pins "
    "that the index path loses no rows under the driver's bare "
    "session, and the word arrays come from a bit-exact Python twin "
    "of the gated sketches.bloom_build (parity test).",
)
def tlog_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import tlog

    c = _t(spark, sf_dir, "customer")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_TLOG_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_tlogb_{tag}")
    for bucket in range(3):
        tlog.commit(
            c.filter(F.col("c_custkey") % 3 == bucket).coalesce(1),
            store,
            "append",
        )
    tlog.attach_bloom_index(store, "c_mktsegment")
    return (
        tlog.read_point_lookup(spark, store, "c_mktsegment", "BUILDING")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_bal"),
        )
    )


@register(
    "tlog_change_data_feed",
    oracle="""
    SELECT o_orderkey, 'insert' AS change
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    UNION ALL
    SELECT o_orderkey, 'update' AS change
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderstatus = 'O'
    ORDER BY o_orderkey
    """,
    doc="change data feed derived from time travel "
    "(tlog.read_version x upsert.snapshot_diff -- what Delta's "
    "CHANGE DATA FEED materializes, computed between any two "
    "committed versions after the fact): version 0 is the pre-1997 "
    "orders with open-status rows blanked to priority 'X', version 1 "
    "overwrites with the full corrected table; diffing the two "
    "snapshots yields exactly (inserts = post-1997 rows, updates = "
    "the blanked rows), which the oracle derives from the raw table "
    "predicates. The diff shuffles (key, sha2) pairs only -- payload "
    "never moves (snapshot_diff's hashed-key convention) -- and the "
    "version reads are explicit manifest-resolved file lists, so "
    "deriving CDC between ANY two historical versions costs two "
    "manifest reads + one key-hash join, independent of how many "
    "versions lie between.",
)
def tlog_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import tlog
    from ..operators.upsert import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_TLOG_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_tlogc_{tag}")
    cut = "1997-01-01"
    v0 = o.filter(F.col("o_orderdate") < cut).withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderstatus") == "O", F.lit("X")
        ).otherwise(F.col("o_orderpriority")),
    )
    tlog.commit(v0, store, "append")
    tlog.commit(o, store, "overwrite")
    diff = snapshot_diff(
        tlog.read_version(spark, store, 0),
        tlog.read_version(spark, store, 1),
        key_cols=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    return diff.select("o_orderkey", "change").orderBy("o_orderkey")


def _lpa_oracle(sf_dir: str) -> str:
    """Python twin of graph.label_propagation on the support-2
    co-purchase graph: synchronous rounds, neighbor-only votes,
    (count, -label) argmax — emitted as VALUES."""
    import collections

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    adj: dict[int, set[int]] = collections.defaultdict(set)
    for lo, hi in con.execute(_SUPPORT2_EDGES_SQL).fetchall():
        adj[int(lo)].add(int(hi))
        adj[int(hi)].add(int(lo))
    con.close()
    labels = {v: v for v in adj}
    for _ in range(3):
        nxt = {}
        for v in adj:
            cnt: dict[int, int] = collections.defaultdict(int)
            for u in adj[v]:
                cnt[labels[u]] += 1
            nxt[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = nxt
    rows = ", ".join(f"({v}, {l})" for v, l in sorted(labels.items()))
    return (
        f"SELECT CAST(part AS BIGINT) AS part, "
        f"CAST(label AS BIGINT) AS label "
        f"FROM (VALUES {rows}) AS t(part, label) ORDER BY part"
    )


@register(
    "lpa_copurchase_communities",
    oracle=_lpa_oracle,
    doc="label-propagation communities, 3 synchronous rounds, over "
    "the support-2 co-purchase graph (graph.label_propagation): "
    "every vertex adopts its neighbors' most frequent label with "
    "(count, -label) integer argmax ties — deterministic under any "
    "partitioning, which is what lets an inherently heuristic "
    "community algorithm pass a hash gate. Fixed rounds, not a "
    "fixpoint (synchronous LPA oscillates on bipartite structure; "
    "fixed count = deterministic result AND cost). DENSITY classes, "
    "not connectivity: a single bridge edge keeps two communities "
    "separate here but merges them under the gated "
    "dedup_cluster_components. Oracle is the pure-Python synchronous "
    "twin (VALUES).",
)
def lpa_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    edges = _support2_edges(spark, sf_dir)
    out = graph.label_propagation(edges, rounds=3, a="lo", b="hi")
    return out.select(
        F.col("v").cast("bigint").alias("part"),
        F.col("label").cast("bigint").alias("label"),
    ).orderBy("part")


@register(
    "ivm_join_view_refresh",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    doc="incremental maintenance of a JOIN view (operators/ivm."
    "join_view_delta): orders and customers both split into a stored "
    "side and an arriving delta; the view refreshes by appending "
    "d(A|><|B) = dA|><|B_old + A_old|><|dB + dA|><|dB -- three legs "
    "that each join a SMALL broadcast delta against one stored side, "
    "O(|delta| x fan-out) regardless of |A|,|B| -- the reason a "
    "100 TB materialized join view is maintainable at all. The "
    "oracle aggregates the full recompute, so the gate proves the "
    "algebraic identity: the three legs are disjoint and complete "
    "(any duplicate or missing row breaks the per-segment counts). "
    "The aggregate-view half of IVM is the gated-family partner "
    "incremental_rollup_maintenance; insert-only here, signed "
    "multiplicities (from snapshot_diff's CDC feed) generalize it.",
)
def ivm_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import ivm

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cut = "1996-01-01"
    a_old = o.filter(F.col("o_orderdate") < cut)
    a_delta = o.filter(F.col("o_orderdate") >= cut)
    b_old = c.filter(F.col("c_custkey") % 10 != 0)
    b_delta = c.filter(F.col("c_custkey") % 10 == 0)
    a_oldk = a_old.withColumn("k", F.col("o_custkey"))
    a_delk = a_delta.withColumn("k", F.col("o_custkey"))
    b_oldk = b_old.withColumn("k", F.col("c_custkey"))
    b_delk = b_delta.withColumn("k", F.col("c_custkey"))
    view_old = a_oldk.join(b_oldk, ["k"])
    delta = ivm.join_view_delta(a_oldk, a_delk, b_oldk, b_delk, on=["k"])
    refreshed = view_old.unionByName(delta)
    return (
        refreshed.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


def _hll_intersection_oracle() -> str:
    from ..operators.sketches import hll_coefficient, hll_sql_parts

    p = hll_sql_parts("k", _HLL_B, D)
    m, shift = int(p["m"]), int(p["shift"])
    coef = repr(hll_coefficient(_HLL_B))

    def est_cte(tag: str, regs: str) -> str:
        return f"""
    f_{tag} AS (SELECT allb.bucket, coalesce(r.max_rank, 0) AS mr
                FROM allb LEFT JOIN {regs} r USING (bucket)),
    e_{tag} AS (SELECT {PT.round6(f"{coef} / CAST(sum(CAST(1 AS BIGINT) << CAST({shift} - mr AS INT)) AS DOUBLE)", D)} AS est
                FROM f_{tag})"""

    return f"""
    WITH ka AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
                WHERE event_type = 'purchase' AND user_id IS NOT NULL),
    kb AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL),
    ra AS (SELECT ({p['bucket']}) AS bucket, max({p['rank']}) AS max_rank
           FROM ka GROUP BY 1),
    rb AS (SELECT ({p['bucket']}) AS bucket, max({p['rank']}) AS max_rank
           FROM kb GROUP BY 1),
    ru AS (SELECT bucket, max(max_rank) AS max_rank FROM
           (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY bucket),
    allb AS (SELECT CAST(unnest(range({m})) AS BIGINT) AS bucket),
    {est_cte('a', 'ra')},
    {est_cte('b', 'rb')},
    {est_cte('u', 'ru')},
    truth AS (
      SELECT CAST(count(*) AS BIGINT) AS true_intersection FROM
        (SELECT k FROM ka INTERSECT SELECT k FROM kb)
    )
    SELECT e_a.est AS est_a, e_b.est AS est_b, e_u.est AS est_union,
           {PT.round6('e_a.est + e_b.est - e_u.est', D)} AS est_intersection,
           truth.true_intersection
    FROM e_a, e_b, e_u, truth
    """


@register(
    "hll_intersection_estimate",
    oracle=_hll_intersection_oracle(),
    doc="HLL set ALGEBRA: distinct purchasers INTERSECT distinct "
    "clickers estimated by inclusion-exclusion |A|+|B|-|A union B|, "
    "where the union sketch is the register-wise max of the two "
    "register tables -- the operation HLL supports natively (unions "
    "are lossless; intersections are derived). All register ops are "
    "exact integers; each estimate is one round6'd literal division, "
    "and the final subtraction operates on already-rounded doubles "
    "identically in both engines. Exact truth reported beside the "
    "estimate (the sketch-triad convention), so the hash gate pins "
    "the sketch error rather than hiding it. The scale story is the "
    "point: audience-overlap questions over 100 TB reduce to "
    "merging 2^b-row register tables.",
)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ka = (
        ev.filter(F.col("event_type") == "purchase")
        .selectExpr("CAST(user_id AS STRING) AS k")
        .distinct()
    )
    kb = (
        ev.filter(F.col("event_type") == "click")
        .selectExpr("CAST(user_id AS STRING) AS k")
        .distinct()
    )
    ra = sketches.hll_register(ka, "k", b=_HLL_B)
    rb = sketches.hll_register(kb, "k", b=_HLL_B)
    ru = (
        ra.unionByName(rb)
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    ea = sketches.hll_estimate(ra, b=_HLL_B).select(
        F.col("est_hll").alias("est_a")
    )
    eb = sketches.hll_estimate(rb, b=_HLL_B).select(
        F.col("est_hll").alias("est_b")
    )
    eu = sketches.hll_estimate(ru, b=_HLL_B).select(
        F.col("est_hll").alias("est_union")
    )
    truth = (
        ka.intersect(kb)
        .agg(F.count("*").cast("bigint").alias("true_intersection"))
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .withColumn(
            "est_intersection",
            F.expr(
                PT.round6("est_a + est_b - est_union", PT.SPARK)
            ),
        )
        .crossJoin(F.broadcast(truth))
        .select(
            "est_a", "est_b", "est_union", "est_intersection",
            "true_intersection",
        )
    )


@register(
    "systematic_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS w_cents
      FROM orders
    ), tot AS (SELECT CAST(sum(w_cents) AS BIGINT) AS wsum FROM w),
    c AS (
      SELECT o_orderkey, w_cents,
             SUM(w_cents) OVER (ORDER BY o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM w
    ), s AS (
      SELECT c.*, (SELECT wsum FROM tot) // 97 AS step FROM c
    )
    SELECT o_orderkey, w_cents, CAST(cum AS BIGINT) AS cum,
           CAST(cum // step - (cum - w_cents) // step AS BIGINT) AS n_picks
    FROM s WHERE cum // step > (cum - w_cents) // step
    ORDER BY o_orderkey
    """,
    doc="probability-proportional-to-size SYSTEMATIC sampling, fully "
    "deterministic: weights quantize to integer cents, the exact "
    "cumulative weight assigns each row the half-open interval "
    "[cum - w, cum), and a row is selected once per multiple of "
    "step = W DIV k inside its interval (floor-division crossing "
    "count -- no RNG anywhere, so the draw is reproducible and "
    "hash-gateable, the property every training-data sampling recipe "
    "wants for audits). The Spark cumsum is the sweep operator's "
    "two-phase prefix sum over key-range buckets (per-bucket window "
    "parallel across buckets + bucket-carry broadcast), so no global "
    "sort touches the facts; the oracle runs the single-sort global "
    "window -- algebraic identity, gate-proven. Exactly k rows come "
    "back when no single weight spans two steps; heavier rows report "
    "n_picks > 1 rather than duplicating.",
)
def systematic_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = o.select(
        "o_orderkey",
        F.expr(
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("w_cents"),
        (F.col("o_orderkey") / 4096).cast("bigint").alias("_bucket"),
    )
    tot = w.agg(F.sum("w_cents").cast("bigint").alias("wsum"))
    w_in = Window.partitionBy("_bucket").orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bucket_tot = w.groupBy("_bucket").agg(
        F.sum("w_cents").alias("_bt")
    )
    w_carry = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bucket_tot.select(
        "_bucket",
        F.coalesce(F.sum("_bt").over(w_carry), F.lit(0))
        .cast("bigint")
        .alias("_carry"),
    )
    cum = (
        w.withColumn("_incum", F.sum("w_cents").over(w_in))
        .join(F.broadcast(carry), "_bucket")
        .withColumn("cum", (F.col("_carry") + F.col("_incum")).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .withColumn("step", F.expr("wsum DIV 97"))
    )
    return (
        cum.filter(
            F.expr("cum DIV step > (cum - w_cents) DIV step")
        )
        .select(
            "o_orderkey",
            "w_cents",
            "cum",
            F.expr(
                "CAST(cum DIV step - (cum - w_cents) DIV step AS BIGINT)"
            ).alias("n_picks"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "brand_pair_pmi",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), marg AS (
      SELECT b, CAST(count(*) AS BIGINT) AS nb FROM ob GROUP BY b
    ), tot AS (
      SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM ob
    ), pairs AS (
      SELECT a.b AS brand_a, bb.b AS brand_b,
             CAST(count(*) AS BIGINT) AS support
      FROM ob a JOIN ob bb ON a.o = bb.o AND a.b < bb.b
      GROUP BY 1, 2 HAVING count(*) >= 200
    )
    SELECT p.brand_a, p.brand_b, p.support,
           CAST(floor(ln(
             (CAST(p.support AS DOUBLE) * t.n_orders)
             / (CAST(ma.nb AS DOUBLE) * mb.nb)
           ) * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
    FROM pairs p
    JOIN marg ma ON ma.b = p.brand_a
    JOIN marg mb ON mb.b = p.brand_b
    CROSS JOIN tot t
    ORDER BY pmi_micro DESC, brand_a, brand_b LIMIT 30
    """,
    doc="pointwise mutual information over co-purchase brand pairs: "
    "PMI = ln(P(a,b) / (P(a)P(b))) ranks pairs by ASSOCIATION "
    "strength rather than raw support (frequent_brand_pairs' "
    "counts), separating genuinely-linked brands from "
    "popular-with-everything ones -- the association-mining score "
    "that turns basket counts into signal. Every probability is a "
    "ratio of exact integers, ln is applied once per pair and "
    "micro-snapped (the lm_perplexity / PSI convention), support "
    "floor 200 keeps the estimates out of the small-count noise "
    "regime. Same co-partitioned basket self-join as the support "
    "query; marginals and the 1-row total broadcast.",
)
def brand_pair_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    marg = ob.groupBy("b").agg(F.count("*").cast("bigint").alias("nb"))
    tot = ob.agg(
        F.countDistinct("o").cast("bigint").alias("n_orders")
    )
    a = ob.alias("a")
    bb = ob.alias("bb")
    pairs = (
        a.join(bb, "o")
        .filter(F.col("a.b") < F.col("bb.b"))
        .groupBy(
            F.col("a.b").alias("brand_a"), F.col("bb.b").alias("brand_b")
        )
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 200)
    )
    ma = marg.select(F.col("b").alias("brand_a"), F.col("nb").alias("na_"))
    mb = marg.select(F.col("b").alias("brand_b"), F.col("nb").alias("nb_"))
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "support",
            F.expr(
                "CAST(floor(ln((CAST(support AS DOUBLE) * n_orders)"
                " / (CAST(na_ AS DOUBLE) * nb_)) * 1000000.0 + 0.5)"
                " AS BIGINT)"
            ).alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), "brand_a", "brand_b")
        .limit(30)
    )


@register(
    "clustering_coefficient",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS lo,
                      greatest(a.l_partkey, b.l_partkey) AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT lo AS v FROM e UNION ALL SELECT hi FROM e) GROUP BY v
    ),
    tri AS (
      SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
      FROM e e1
      JOIN e e2 ON e2.lo = e1.hi
      JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    pv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_tri
      FROM (SELECT unnest([x, y, z]) AS v FROM tri) GROUP BY v
    )
    SELECT CAST(d.v AS BIGINT) AS v, d.d AS degree,
           coalesce(pv.n_tri, 0) AS n_triangles,
           CAST(floor(
             CAST(2 * coalesce(pv.n_tri, 0) AS DOUBLE)
             / (CAST(d.d AS DOUBLE) * (d.d - 1))
             * 1000000.0 + 0.5) AS BIGINT) AS cc_micro
    FROM deg d LEFT JOIN pv ON pv.v = d.v
    WHERE d.d >= 50
    ORDER BY cc_micro DESC, v LIMIT 25
    """,
    doc="local clustering coefficient per vertex: 2*triangles / "
    "(deg*(deg-1)) over the raw co-purchase graph -- the normalized "
    "community-density metric the raw triangle counts "
    "(triangle_count_copurchase, same degree-oriented enumeration) "
    "feed; a min-degree floor keeps the ratio out of the "
    "small-denominator noise. Triangle and degree counts are exact "
    "BIGINTs; the single division per vertex micro-snaps. The "
    "oracle recomputes triangles by id-ordered brute force -- "
    "orientation changes which joins run, never the counts.",
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.copurchase_pairs(li, lo="pa", hi="pb").distinct()
    deg = (
        edges.select(F.col("pa").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    tri = graph.triangle_counts(edges, a="pa", b="pb")
    return (
        deg.join(tri, "v", "left")
        .select(
            F.col("v").cast("bigint").alias("v"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
        )
        .filter(F.col("degree") >= 50)
        .withColumn(
            "cc_micro",
            F.expr(
                "CAST(floor(CAST(2 * n_triangles AS DOUBLE)"
                " / (CAST(degree AS DOUBLE) * (degree - 1))"
                " * 1000000.0 + 0.5) AS BIGINT)"
            ),
        )
        .orderBy(F.desc("cc_micro"), "v")
        .limit(25)
    )


@register(
    "ingest_timetravel_cases",
    bench=True,
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 1000 < 30),
    b2 AS (
      SELECT o_orderkey AS k FROM orders
      WHERE o_orderkey % 1000 >= 20 AND o_orderkey % 1000 < 40),
    v0 AS (SELECT k, 'active' AS status FROM b1),
    v1 AS (
      SELECT u.k,
             CASE WHEN u.k IN (SELECT k FROM b2)
                  THEN 'closed' ELSE 'active' END AS status
      FROM (SELECT k FROM b1 UNION SELECT k FROM b2) u)
    SELECT CAST(0 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT) AS n_cases,
           CAST(sum(CASE WHEN status = 'active' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN status = 'closed' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_closed,
           CAST(sum(k) AS BIGINT) AS sum_case_key
    FROM v0
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN status = 'active' THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(sum(CASE WHEN status = 'closed' THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(sum(k) AS BIGINT)
    FROM v1
    ORDER BY version
    """,
    doc="the ingest MERGE path THROUGH the transaction-log table "
    "format (operators/tlog.TlogStore): two "
    "docket batches synthesized Spark-side from orders (batch 1 = "
    "keys%1000<30 active; batch 2 = keys%1000 in [20,40) closed — 10 "
    "overlap as updates, 10 are inserts) run the FULL ingest "
    "pipeline (plans/ingest.ingest_batch: validation, dim "
    "get-or-create, last-writer-wins merge) and every touched table "
    "commits one tlog version per run.  The gate then reads the "
    "cases table at VERSION 0 and at the current version and proves "
    "each equals the replayed batch state the oracle computes "
    "directly — the reference's audit-trail story "
    "(schema.sql:179-205) as format-level history: any run's exact "
    "warehouse state is one manifest replay away.  Rerun "
    "idempotency + vacuum retention pinned by "
    "tests/test_tlog_store.py.",
)
def ingest_timetravel_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from .ingest import ingest_batch
    from ..operators.tlog import TlogStore

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    def dockets(df, status: str) -> DataFrame:
        return df.select(
            F.concat(F.lit("CASE-"), F.col("o_orderkey").cast("string")).alias(
                "case_number"
            ),
            F.lit("District Court").alias("court"),
            F.col("o_orderkey").cast("string").alias("title"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("filed_date"),
            F.lit(None).cast("string").alias("parties"),
            F.lit("civil").alias("case_type"),
            F.lit(None).cast("string").alias("judge"),
            F.lit("").alias("docket_text"),
            F.lit(status).alias("status"),
            F.col("o_orderkey").cast("long").alias("_seq"),
        )

    b1 = dockets(o.filter(F.col("o_orderkey") % 1000 < 30), "active")
    b2 = dockets(
        o.filter(
            (F.col("o_orderkey") % 1000 >= 20) & (F.col("o_orderkey") % 1000 < 40)
        ),
        "closed",
    )
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_TLOG_SEQ)}"
    )
    wh = os.path.join(tempfile.gettempdir(), f"spark_graft_tlogwh_{tag}")
    # id-keyed tables commit with per-file [min, max] id stats in the
    # manifest, so batch 2's max-id scalars replay from ONE manifest
    # read (TlogStore.stat_max — zero Spark jobs) instead of five
    # aggregate legs in the fused stats job (r14; guide §6 manifest
    # metadata over data reads)
    _ID_TABLES = ("courts", "judges", "case_types", "parties", "cases")
    store = TlogStore(spark, wh, stats_cols={t: "id" for t in _ID_TABLES})
    # dim tables commit in a first wave so their cached frames are
    # populated once (by their own commit) before the fact/variation
    # wave's 2-3 concurrent consumers touch them — see write_all
    _DIM_WAVE = ("courts", "judges", "case_types", "parties")
    r1 = ingest_batch(spark, b1, existing=None, run_id=1)
    store.write_all(r1.tables, first=_DIM_WAVE)
    r1.release()  # committed — drop the batch caches (shared session)
    existing = {
        t: store.read(t) for t in r1.tables if store.exists(t)
    }
    r2 = ingest_batch(
        spark,
        b2,
        existing=existing,
        run_id=2,
        known_max_ids={t: store.stat_max(t) for t in _ID_TABLES},
    )
    store.write_all(r2.tables, first=_DIM_WAVE)
    r2.release()

    def snap(version: int | None, label: int) -> DataFrame:
        return (
            store.read("cases", version)
            .agg(
                F.count("*").cast("bigint").alias("n_cases"),
                F.sum(F.expr("CASE WHEN status = 'active' THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias("n_active"),
                F.sum(F.expr("CASE WHEN status = 'closed' THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias("n_closed"),
                F.sum(F.col("title").cast("bigint"))
                .cast("bigint")
                .alias("sum_case_key"),
            )
            .select(
                F.lit(label).cast("bigint").alias("version"),
                "n_cases",
                "n_active",
                "n_closed",
                "sum_case_key",
            )
        )

    return snap(0, 0).unionByName(snap(None, 1)).orderBy("version")


@register(
    "ivm_tlog_cdc_refresh",
    bench=True,
    oracle="""
    WITH v1 AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 10 = 0
                  THEN CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) + 10000
                  ELSE CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
             END AS bal_cents
      FROM customer WHERE c_custkey % 19 <> 0)
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
    FROM orders o JOIN v1 ON v1.c_custkey = o.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
    doc="the full lakehouse IVM composition: two committed tlog "
    "versions of the customer dim (v0 = keys%4!=1 at original "
    "balances; v1 = all keys except %19==0 deletes, +$100 on %10==0 "
    "updates) feed operators/upsert.snapshot_diff, whose signed CDC "
    "rows (insert/update/delete — Delta's CHANGE DATA FEED shape) "
    "then refresh a materialized orders|><|customer join view "
    "WITHOUT recomputing it: drop view rows whose key is "
    "update/delete (one anti-join), append orders joined to the new "
    "version's insert/update rows (one key join against the "
    "key-bounded CDC set).  Maintenance cost is O(|delta| x "
    "fan-out), independent of view size — join_view_delta's "
    "insert-only algebra generalized to signed multiplicities, "
    "closing the loop the ivm module docstring promises.  The "
    "oracle is the FULL recompute over v1, so the gate proves the "
    "CDC-applied view is row-identical to rebuilding it (exact "
    "integer cents; any missed/duplicated/stale row breaks the "
    "per-segment sums).",
)
def ivm_tlog_cdc_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..operators import tlog
    from ..operators.upsert import snapshot_diff

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr("CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)").alias(
            "bal_cents"
        ),
    )
    v0 = c.filter(F.col("c_custkey") % 4 != 1)
    v1 = c.filter(F.col("c_custkey") % 19 != 0).withColumn(
        "bal_cents",
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("bal_cents") + 10000
        ).otherwise(F.col("bal_cents")),
    )
    tag = (
        f"{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}"
        f"_{os.getpid()}_{next(_TLOG_SEQ)}"
    )
    store = os.path.join(tempfile.gettempdir(), f"spark_graft_tlogivm_{tag}")
    tlog.commit(v0, store, "overwrite")
    tlog.commit(v1, store, "overwrite")

    cust_v0 = tlog.read_version(spark, store, 0)
    cust_v1 = tlog.read_version(spark, store, 1)
    cdc = snapshot_diff(
        cust_v0, cust_v1, ["c_custkey"], ["c_mktsegment", "bal_cents"]
    )

    o = _t(spark, sf_dir, "orders").select("o_custkey")
    view0 = o.join(
        cust_v0, o.o_custkey == cust_v0.c_custkey
    ).select("c_custkey", "c_mktsegment", "bal_cents")

    gone = cdc.filter(F.col("change").isin("update", "delete")).select(
        "c_custkey"
    )
    added = cdc.filter(F.col("change").isin("insert", "update")).select(
        "c_custkey"
    )
    # CDC keys are delta-bounded: broadcast them against the stored view
    refreshed = view0.join(F.broadcast(gone), "c_custkey", "left_anti").unionByName(
        o.join(
            cust_v1.join(F.broadcast(added), "c_custkey"),
            o.o_custkey == F.col("c_custkey"),
        ).select("c_custkey", "c_mktsegment", "bal_cents")
    )
    return (
        refreshed.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("bal_cents").cast("bigint").alias("sum_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "props_variant_bands",
    oracle="""
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="the Spark 4 VARIANT path for semi-structured columns: "
    "parse_json once into the binary VARIANT encoding, then typed "
    "variant_get extraction feeding plain integer aggregation — "
    "the shredded/typed successor to get_json_object string "
    "re-parsing (semistructured_props_stats keeps the from_json "
    "form; this gates the new type end-to-end: parse, typed "
    "extract, band, aggregate). VARIANT at 100 TB: parse cost paid "
    "once per row at scan, extraction is a binary-offset read, and "
    "Parquet shredding (when written) pushes field pruning into "
    "the scan itself.",
)
def props_variant_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type", F.expr("k DIV 10").alias("k_band"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
        .orderBy("event_type", "k_band")
    )


_REACHABILITY_SQL = """
    WITH RECURSIVE p(v, hops) AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS hops
      UNION ALL
      SELECT e.dst, p.hops + 1
      FROM p JOIN {lanes} e ON e.src = p.v WHERE p.hops < 3
    )
    SELECT CAST(v AS BIGINT) AS nation, CAST(min(hops) AS BIGINT) AS hops
    FROM p GROUP BY v ORDER BY nation
"""


@register(
    "recursive_reachability_sql",
    oracle="""
    WITH RECURSIVE lanes AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst FROM lanes WHERE src <> dst AND cnt >= 5),
    p AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS hops
      UNION ALL
      SELECT e.dst, p.hops + 1
      FROM p JOIN e ON e.src = p.v WHERE p.hops < 3
    )
    SELECT CAST(v AS BIGINT) AS nation, CAST(min(hops) AS BIGINT) AS hops
    FROM p GROUP BY v ORDER BY nation
    """,
    doc="Spark 4 RECURSIVE CTE executed natively by the SQL "
    "front-end (the UnionLoop operator): 3-hop reachability from "
    "nation 0 over the volume-filtered trade-lane graph, the same "
    "statement shape DuckDB runs as the oracle — two independent "
    "recursive-CTE engines pinned to the same frontier. Recursion "
    "is DEPTH-BOUNDED inside the recursive leg (hops < 3) with "
    "min() taken after — the documented guard against the "
    "cyclic-graph divergence both engines share (a monotone depth "
    "column makes every (v, hops) pair 'new' forever). The "
    "iterative-operator form of the same computation is "
    "graph.bfs_distances / bellman_ford (frontier joins + "
    "localCheckpoint); this row gates the declarative surface.",
)
def recursive_reachability_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lanes = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
        .filter((F.col("src") != F.col("dst")) & (F.col("cnt") >= 5))
        .select("src", "dst")
    )
    lanes.createOrReplaceTempView("v_reach_lanes")
    return spark.sql(_REACHABILITY_SQL.format(lanes="v_reach_lanes"))


# ---------------------------------------------------------------------------
# Personalized PageRank over the trade graph (seed-restart walk)
# ---------------------------------------------------------------------------

_PPR_SEEDS = [f"c{i}" for i in range(1, 11)]


def _ppr_seed_list() -> str:
    return ", ".join(f"'{s}'" for s in _PPR_SEEDS)


@register(
    "personalized_pagerank_trade",
    oracle=f"""
    WITH raw AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    seeds AS (SELECT node FROM nodes
              WHERE node IN ({_ppr_seed_list()})),
    ns AS (SELECT count(*) AS s FROM seeds),
    deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
    r0 AS (SELECT nodes.node,
                  CASE WHEN sd.node IS NOT NULL
                       THEN ({_PR_SCALE} // ns.s) ELSE 0 END AS rank_units
           FROM nodes LEFT JOIN seeds sd ON sd.node = nodes.node
           CROSS JOIN ns),
    c1 AS (SELECT e.dst AS node, sum(r.rank_units // d.out_deg) AS cin
           FROM e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    d1 AS (SELECT coalesce(sum(r.rank_units), 0) AS dang
           FROM r0 r LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    r1 AS (SELECT nodes.node,
                  (CASE WHEN sd.node IS NOT NULL
                        THEN ((15 * ({_PR_SCALE} // ns.s)) // 100)
                        ELSE 0 END)
                  + ((85 * (coalesce(c1.cin, 0)
                      + (CASE WHEN sd.node IS NOT NULL
                              THEN (d1.dang // ns.s) ELSE 0 END))) // 100)
                    AS rank_units
           FROM nodes LEFT JOIN seeds sd ON sd.node = nodes.node
           CROSS JOIN ns CROSS JOIN d1
           LEFT JOIN c1 ON c1.node = nodes.node),
    c2 AS (SELECT e.dst AS node, sum(r.rank_units // d.out_deg) AS cin
           FROM e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    d2 AS (SELECT coalesce(sum(r.rank_units), 0) AS dang
           FROM r1 r LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
    r2 AS (SELECT nodes.node,
                  (CASE WHEN sd.node IS NOT NULL
                        THEN ((15 * ({_PR_SCALE} // ns.s)) // 100)
                        ELSE 0 END)
                  + ((85 * (coalesce(c2.cin, 0)
                      + (CASE WHEN sd.node IS NOT NULL
                              THEN (d2.dang // ns.s) ELSE 0 END))) // 100)
                    AS rank_units
           FROM nodes LEFT JOIN seeds sd ON sd.node = nodes.node
           CROSS JOIN ns CROSS JOIN d2
           LEFT JOIN c2 ON c2.node = nodes.node)
    SELECT node, CAST(rank_units AS BIGINT) AS rank_units
    FROM r2 ORDER BY rank_units DESC, node LIMIT 20
    """,
    doc="personalized PageRank, 2 iterations, over the bidirectional "
    "customer<->supplier trade graph (operators/graph."
    "personalized_pagerank): the teleport distribution concentrates "
    "on ten seed customers, so rank measures PROXIMITY TO THE SEEDS "
    "— the related-entities / graph-recommendation form of the walk "
    "(suppliers the seed cohort trades through surface first). Same "
    "exact BIGINT fixed-point discipline as the gated-precedent "
    "global walk (integer DIV contributions, dangling mass returned "
    "to the seeds, every sum exact), so the hash gate pins the "
    "whole trajectory; top-20 under a (rank DESC, node) total "
    "order. Scale per iteration: one join on src + one shuffle-agg "
    "on dst, frontier localCheckpointed — O(E) rows moved per "
    "round.",
)
def personalized_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    und = raw.union(raw.select(F.col("dst"), F.col("src")))
    seeds = spark.createDataFrame(
        [(s,) for s in _PPR_SEEDS], "node: string"
    )
    pr = graph.personalized_pagerank(und, seeds, iterations=2)
    return (
        pr.orderBy(F.col("rank_units").desc(), "node")
        .limit(20)
        .select("node", "rank_units")
    )


# ---------------------------------------------------------------------------
# modularity_lpa_communities
# ---------------------------------------------------------------------------

def _modularity_oracle(sf_dir: str) -> str:
    """Python twin: same synchronous LPA as _lpa_oracle, then exact
    integer modularity per community — emitted as VALUES."""
    import collections
    import math

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    edges = [
        (int(lo), int(hi))
        for lo, hi in con.execute(_SUPPORT2_EDGES_SQL).fetchall()
    ]
    con.close()
    adj: dict[int, set[int]] = collections.defaultdict(set)
    for lo, hi in edges:
        adj[lo].add(hi)
        adj[hi].add(lo)
    labels = {v: v for v in adj}
    for _ in range(3):
        nxt = {}
        for v in adj:
            cnt: dict[int, int] = collections.defaultdict(int)
            for u in adj[v]:
                cnt[labels[u]] += 1
            nxt[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = nxt
    m = len(edges)
    n_members: dict[int, int] = collections.defaultdict(int)
    d_c: dict[int, int] = collections.defaultdict(int)
    m_c: dict[int, int] = collections.defaultdict(int)
    for v, l in labels.items():
        n_members[l] += 1
        d_c[l] += len(adj[v])
    for lo, hi in edges:
        if labels[lo] == labels[hi]:
            m_c[labels[lo]] += 1
    total = sum(
        4 * m * m_c.get(l, 0) - d_c[l] * d_c[l] for l in n_members
    )
    q_micro = int(
        math.floor(total / float(4 * m * m) * 1_000_000.0 + 0.5)
    )
    rows = sorted(
        (
            (l, n_members[l], d_c[l], m_c.get(l, 0),
             4 * m * m_c.get(l, 0) - d_c[l] * d_c[l])
            for l in n_members
        ),
        key=lambda r: (-r[1], r[0]),
    )[:20]
    vals = ", ".join(
        f"({l}, {nm}, {dc}, {mc}, {ct}, {m}, {q_micro})"
        for l, nm, dc, mc, ct in rows
    )
    return (
        "SELECT CAST(label AS BIGINT) AS label,"
        " CAST(n_members AS BIGINT) AS n_members,"
        " CAST(d_c AS BIGINT) AS d_c,"
        " CAST(m_c AS BIGINT) AS m_c,"
        " CAST(contrib AS BIGINT) AS contrib,"
        " CAST(m_edges AS BIGINT) AS m_edges,"
        " CAST(q_micro AS BIGINT) AS q_micro"
        f" FROM (VALUES {vals}) AS t(label, n_members, d_c, m_c,"
        " contrib, m_edges, q_micro)"
        " ORDER BY n_members DESC, label"
    )


@register(
    "modularity_lpa_communities",
    oracle=_modularity_oracle,
    doc="Newman modularity of the LPA communities on the support-2 "
    "co-purchase graph — the quality score that turns "
    "lpa_copurchase_communities from 'labels came out' into 'the "
    "partition is better than chance': Q = sum_c (m_c/m - "
    "(d_c/2m)^2), computed as the EXACT integer 4*m*m_c - d_c^2 per "
    "community (contrib; Q = sum(contrib)/(4m^2)) with exactly one "
    "final division micro-snapped into the constant q_micro column.  "
    "Top-20 communities by size with their intra-edge and degree "
    "masses.  Scale: degrees and intra-edge counts are two "
    "edge-table aggregations on the labels join; the per-community "
    "table is community-bounded.  Oracle: pure-Python synchronous "
    "LPA twin + the same integer arithmetic (VALUES).",
)
def modularity_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    edges = barrier(_support2_edges(spark, sf_dir))
    labels = graph.label_propagation(edges, rounds=3, a="lo", b="hi")
    m_df = edges.agg(F.count("*").cast("bigint").alias("m_edges"))
    deg = (
        edges.select(F.col("lo").alias("dv"))
        .unionAll(edges.select(F.col("hi").alias("dv")))
        .groupBy("dv")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    mem = labels.join(deg, labels.v == deg.dv).select(
        labels.v.alias("vertex"), "label", "deg"
    )
    comm = mem.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("deg").cast("bigint").alias("d_c"),
    )
    lab_lo = labels.select(
        F.col("v").alias("lo"), F.col("label").alias("l_lo")
    )
    lab_hi = labels.select(
        F.col("v").alias("hi"), F.col("label").alias("l_hi")
    )
    intra = (
        edges.join(lab_lo, "lo")
        .join(lab_hi, "hi")
        .filter(F.col("l_lo") == F.col("l_hi"))
        .groupBy(F.col("l_lo").alias("label"))
        .agg(F.count("*").cast("bigint").alias("m_c"))
    )
    per = (
        comm.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "label",
            "n_members",
            "d_c",
            F.coalesce(F.col("m_c"), F.lit(0)).cast("bigint").alias("m_c"),
            "m_edges",
        )
        .withColumn(
            "contrib",
            (4 * F.col("m_edges") * F.col("m_c")
             - F.col("d_c") * F.col("d_c")).cast("bigint"),
        )
    )
    q = per.agg(
        F.sum("contrib").alias("total"), F.max("m_edges").alias("m")
    ).select(
        F.expr(
            "CAST(floor(CAST(total AS DOUBLE)"
            " / CAST(4 * m * m AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("q_micro")
    )
    return (
        per.crossJoin(F.broadcast(q))
        .select(
            "label", "n_members", "d_c", "m_c", "contrib", "m_edges",
            "q_micro",
        )
        .orderBy(F.desc("n_members"), "label")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# adamic_adar_linkpred (round 10): link-prediction scores on the
# co-purchase bipartite graph — the "which pairs SHOULD be linked"
# complement of triangle counting's "how clustered is what is".
# ---------------------------------------------------------------------------

@register(
    "adamic_adar_linkpred",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    sz AS (SELECT o, CAST(count(*) AS BIGINT) AS deg FROM op GROUP BY o),
    w AS (SELECT o, CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE)) + 0.5)
                        AS BIGINT) AS w_micro
          FROM sz WHERE deg >= 2),
    pr AS (
      SELECT a.p AS pa, b.p AS pb, w.w_micro
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      JOIN w ON w.o = a.o
    )
    SELECT pa, pb,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(w_micro) AS BIGINT) AS aa_micro
    FROM pr GROUP BY 1, 2
    ORDER BY aa_micro DESC, pa, pb
    LIMIT 50
    """,
    doc="Adamic-Adar link prediction over the co-purchase bipartite "
    "graph (Adamic & Adar 2003, the standard common-neighbor score): "
    "for each part pair, sum 1/ln(|basket|) over the ORDERS they "
    "share — a shared small basket is strong evidence, a shared "
    "mega-basket is weak, which is exactly the inverse-log weighting "
    "(plain co-occurrence counting, frequent_brand_pairs, treats "
    "them equally).  Each order's weight 1e6/ln(deg) is snapped to "
    "micro ONCE from its exact integer degree (one transcendental "
    "per ORDER, not per pair — the psi/lm snap convention), then "
    "pair scores are exact BIGINT sums; single-item baskets produce "
    "no pairs and are excluded before ln (no ln(1)=0 division).  "
    "Top-50 by (score DESC, pair).  Scale: the self-join is "
    "co-partitioned on the basket key, per-basket fan-out is "
    "k(k-1)/2 (TPC-H baskets <= 7; the heavy-basket cap applies at "
    "100 TB), and the weight table is one row per order, joined on "
    "the same key the pairs already shuffle on.",
)
def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    sz = li.groupBy("o").agg(F.count("*").cast("bigint").alias("deg"))
    w = sz.filter(F.col("deg") >= 2).select(
        "o",
        F.expr(
            "CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)"
        ).alias("w_micro"),
    )
    a = li.alias("a")
    b = li.alias("b")
    pr = (
        a.join(b, "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .join(w, "o")
        .select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"), "w_micro")
    )
    return (
        pr.groupBy("pa", "pb")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum("w_micro").cast("bigint").alias("aa_micro"),
        )
        .orderBy(F.desc("aa_micro"), "pa", "pb")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# ktruss_copurchase (round 11): k-truss decomposition — the edge-level
# cohesion notion completing the density ladder (k-core -> k-truss ->
# clique) over the same support-2 co-purchase graph.
# ---------------------------------------------------------------------------

_KTRUSS_K = 3


def _ktruss_oracle(sf_dir: str) -> str:
    """Python-twin oracle: peel edges with support < k-2 in pure
    Python set arithmetic (support(edge) = |common neighbors| within
    the surviving graph) and emit the truss as VALUES — the k_core
    convention for iterative fixpoints."""
    import collections

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    e = {
        (int(lo), int(hi))
        for lo, hi in con.execute(_SUPPORT2_EDGES_SQL).fetchall()
    }
    con.close()
    thresh = _KTRUSS_K - 2
    while True:
        adj: dict[int, set[int]] = collections.defaultdict(set)
        for lo, hi in e:
            adj[lo].add(hi)
            adj[hi].add(lo)
        sup = {(lo, hi): len(adj[lo] & adj[hi]) for lo, hi in e}
        keep = {p for p in e if sup[p] >= thresh}
        if keep == e:
            break
        e = keep
    if not e:
        return (
            "SELECT CAST(NULL AS BIGINT) AS part_lo, "
            "CAST(NULL AS BIGINT) AS part_hi, "
            "CAST(NULL AS BIGINT) AS support WHERE FALSE"
        )
    rows = ", ".join(
        f"({lo}, {hi}, {sup[(lo, hi)]})" for lo, hi in sorted(e)
    )
    return (
        f"SELECT CAST(part_lo AS BIGINT) AS part_lo, "
        f"CAST(part_hi AS BIGINT) AS part_hi, "
        f"CAST(support AS BIGINT) AS support "
        f"FROM (VALUES {rows}) AS t(part_lo, part_hi, support) "
        f"ORDER BY part_lo, part_hi"
    )


@register(
    "ktruss_copurchase",
    bench=True,
    oracle=_ktruss_oracle,
    doc=f"{_KTRUSS_K}-truss of the support-2 co-purchase graph "
    "(graph.k_truss; Cohen 2008): the maximal subgraph where every "
    f"EDGE closes >= {_KTRUSS_K - 2} triangles — the cohesion rung "
    "between kcore_copurchase (degree-based, hub-satisfiable) and "
    "cliques (unscalable), and the standard community-backbone "
    "extractor.  Iterative peeling to a measured fixpoint; each "
    "round reuses the Chiba-Nishizeki oriented wedge join "
    "(arboricity^2-bounded fan-out) to count per-edge supports, then "
    "drops sub-threshold edges; the frontier localCheckpoints so "
    "lineage stays O(1).  Edge membership AND in-truss support are "
    "both pinned.  Oracle: pure-Python peeling twin as VALUES (the "
    "k_core convention).",
)
def ktruss_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    edges = _support2_edges(spark, sf_dir)
    truss = graph.k_truss(edges, k=_KTRUSS_K, a="lo", b="hi")
    return truss.select(
        F.col("lo").cast("bigint").alias("part_lo"),
        F.col("hi").cast("bigint").alias("part_hi"),
        "support",
    ).orderBy("part_lo", "part_hi")


# ---------------------------------------------------------------------------
# landmark_distances_copurchase (round 11): multi-source BFS — all
# landmarks in ONE BSP sweep.
# ---------------------------------------------------------------------------

_LM_SOURCES = (0, 1, 2)
_LM_DEPTH = 3


@register(
    "landmark_distances_copurchase",
    oracle=f"""
    WITH RECURSIVE
    e0 AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS lo,
                      greatest(a.l_partkey, b.l_partkey) AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT lo AS s, hi AS d FROM e0 UNION ALL SELECT hi, lo FROM e0),
    bfs AS (
      SELECT CAST(lm AS BIGINT) AS landmark, CAST(lm AS BIGINT) AS v,
             0 AS dist
      FROM (VALUES {", ".join(f"({s})" for s in _LM_SOURCES)}) AS t(lm)
      UNION
      SELECT bfs.landmark, e.d AS v, bfs.dist + 1 AS dist
      FROM bfs JOIN e ON e.s = bfs.v
      WHERE bfs.dist < {_LM_DEPTH}
    ),
    lab AS (SELECT landmark, v, min(dist) AS dist FROM bfs
            GROUP BY landmark, v)
    SELECT landmark, CAST(dist AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(sum(v) AS BIGINT) AS sum_part_ids
    FROM lab GROUP BY landmark, dist
    ORDER BY landmark, dist
    """,
    doc="landmark (multi-source) BFS over the raw co-purchase graph "
    f"(graph.multi_source_bfs): hop distances from parts "
    f"{_LM_SOURCES} computed in ONE BSP sweep with a "
    "(landmark, vertex)-keyed frontier — k landmarks cost one pass "
    "of k-wide frontiers, not k sequential BFS runs, so the "
    "per-level scheduling overhead that dominates iterative graph "
    "work at scale is paid once (the landmark-sketch primitive "
    "behind approximate shortest paths and centrality features; "
    "Potamias et al. 2009).  Output: per (landmark, dist) the "
    "vertex count AND the exact sum of member ids — the histogram "
    "plus a membership checksum, so the hash pins the full "
    "labeling without shipping every row.  Oracle: one recursive "
    "CTE seeded with all three landmarks under the same "
    f"{_LM_DEPTH}-hop cap, min(dist) per (landmark, vertex).",
)
def landmark_distances_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators import graph

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.copurchase_pairs(li).distinct()
    lab = graph.multi_source_bfs(
        edges, list(_LM_SOURCES), a="lo", b="hi", max_depth=_LM_DEPTH
    )
    return (
        lab.groupBy("landmark", F.col("dist").cast("bigint").alias("dist"))
        .agg(
            F.count("*").cast("bigint").alias("n_vertices"),
            F.sum("v").cast("bigint").alias("sum_part_ids"),
        )
        .orderBy("landmark", "dist")
    )
