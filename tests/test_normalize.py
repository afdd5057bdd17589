from __future__ import annotations

from legal_data_ingestion_rag_pipeline_spark.functions import normalize as N

CASES = [
    # (raw_court, raw_judge, raw_party, expected_court, expected_judge, expected_party)
    ("S.D.N.Y.", "Hon. Maria Rodriguez", "  Acme   Corp ", "SDNY", "maria rodriguez", "acme corp"),
    ("S D N Y", "Judge Sarah Chen", "JOHN  SMITH", "SDNY", "sarah chen", "john smith"),
    ("N.D. Cal", "HON. A B", "x", "NDCAL", "a b", "x"),
    ("ED Va", "Justice   Roberts", "Y  Z", "EDVA", "roberts", "y z"),
    ("D. N.J", "Maria Rodriguez", "a", "DNJ", "maria rodriguez", "a"),
]


def test_normalizers(spark):
    df = spark.createDataFrame(
        [(c, j, p) for c, j, p, *_ in CASES], "court string, judge string, party string"
    )
    rows = df.select(
        N.normalize_court("court").alias("c"),
        N.normalize_judge("judge").alias("j"),
        N.normalize_party("party").alias("p"),
    ).collect()
    for row, (_, _, _, ec, ej, ep) in zip(rows, CASES):
        assert (row.c, row.j, row.p) == (ec, ej, ep)


def test_status(spark):
    df = spark.createDataFrame(
        [("ACTIVE",), ("Closed",), ("pending",), (None,), ("",), ("open",)], "s string"
    )
    rows = df.select(N.normalize_status("s").alias("n")).collect()
    # Reference ingest.py:607 is a plain .lower(): no trim, no 'active'
    # default on present values, null stays null.  The enum check and
    # its error codes are plans.ingest.validate's (tests/test_ingest.py).
    assert [r.n for r in rows] == ["active", "closed", "pending", None, "", "open"]


def test_case_type_default(spark):
    df = spark.createDataFrame([("Civil ",), (None,), ("",)], "t string")
    rows = df.select(N.normalize_case_type("t").alias("n")).collect()
    assert [r.n for r in rows] == ["civil", "civil", "civil"]


def test_html_to_text_strips_blocks_decodes_entities(spark):
    from pyspark.sql import functions as F

    from legal_data_ingestion_rag_pipeline_spark.functions import htmltext

    df = spark.createDataFrame(
        [
            (1, "<p>Hello <b>world</b></p>"),
            (2, "<script>if (a < b) { x(); }</script>text"),
            (3, "<style>a { b: c; }</style>A &amp;lt; B &nbsp;&#39;q&#39;"),
            (4, "<!-- secret -->visible<br/>line"),
            (5, None),
            (6, "no markup at   all"),
        ],
        "id bigint, html string",
    )
    got = {
        r.id: r.t
        for r in df.select(
            "id", htmltext.html_to_text(F.col("html")).alias("t")
        ).collect()
    }
    assert got[1] == "Hello world"
    assert got[2] == "text"              # script body gone, incl. its '<'
    assert got[3] == "A &lt; B 'q'"      # &amp; decodes LAST: no double-decode
    assert got[4] == "visible line"
    assert got[5] is None
    assert got[6] == "no markup at all"
