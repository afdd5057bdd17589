"""API-equivalent query layer + RAG + quality report tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legal_data_ingestion_rag_pipeline_spark.functions.hashembed import hash_embed
from legal_data_ingestion_rag_pipeline_spark.plans.ingest import ingest_batch
from legal_data_ingestion_rag_pipeline_spark.plans.queries import (
    get_case,
    list_cases,
    serving_view,
)
from legal_data_ingestion_rag_pipeline_spark.plans.quality_report import report
from legal_data_ingestion_rag_pipeline_spark.plans.rag import (
    HashEmbedder,
    SentenceTransformerEmbedder,
    backfill_chunk_embeddings,
    search_dockets,
)
from legal_data_ingestion_rag_pipeline_spark.sources.readers import raw_from_rows

from fixtures import DOCKETS


@pytest.fixture(scope="module")
def tables(spark):
    raw = raw_from_rows(spark, DOCKETS)
    r = ingest_batch(spark, raw)
    return {k: v.localCheckpoint(eager=True) for k, v in r.tables.items()}


@pytest.fixture(scope="module")
def view(tables):
    return serving_view(tables)


def test_list_requires_filter(spark, view):
    with pytest.raises(ValueError):
        list_cases(view)


def test_list_by_judge(spark, view):
    rows = list_cases(view, judge="Maria Rodriguez").collect()
    # case 00001's final version has no judge; only 00002 keeps Maria
    assert [r.case_number for r in rows] == ["1:23-cv-00002"]
    # filter matches on normalized_name; the output field is the
    # DISPLAY name (reference j.full_name, same as the detail endpoint)
    assert rows[0].judge == "Hon. Maria Rodriguez"


def test_list_by_year_ordering(spark, view):
    rows = list_cases(view, year=2023).collect()
    assert [(r.case_number, r.filed_date) for r in rows] == [
        ("2:23-cv-00003", "2023-10-03"),
        ("1:23-cv-00002", "2023-06-07"),
        ("1:23-cv-00001", "2023-05-11"),  # last-wins date
    ]


def test_get_case_detail_and_404(spark, view):
    row = get_case(view, "1:23-cv-00002")
    assert row is not None
    # canonical dim name is the FIRST-seen spelling of SDNY (row 0's
    # "S.D.N.Y."), matching get-or-create semantics
    assert row.court == "S.D.N.Y."
    assert ("Taylor  | Energy LLC", "plaintiff") in [(p.name, p.role) for p in row.parties]
    assert get_case(view, "nope") is None


def test_rag_backfill_and_search(spark, tables, view):
    embedder = HashEmbedder(dim=32)
    emb = backfill_chunk_embeddings(tables["cases"], None, embedder)
    emb = emb.localCheckpoint(eager=True)
    # multi-chunk doc: case 00002 has ~2850 chars -> 3 chunks at 1200/200
    n2 = emb.filter(F.col("case_number") == "1:23-cv-00002").count()
    assert n2 == 3
    # empty docket_text -> sentinel (0, '')
    sent = emb.filter(F.col("case_number") == "2:23-cv-00003").collect()
    assert [(s.chunk_id, s.chunk_text) for s in sent] == [(0, "")]
    # re-run backfill: nothing new
    emb2 = backfill_chunk_embeddings(tables["cases"], emb, embedder)
    assert emb2.count() == emb.count()
    # search returns k results with snippet <= 280 chars
    res = search_dockets(view, emb, "motion to dismiss", top_k=2, embedder=embedder)
    rows = res.collect()
    assert 1 <= len(rows) <= 2
    assert all(len(r.snippet) <= 280 for r in rows)
    assert rows[0].similarity >= rows[-1].similarity


def test_st_embedder_gated():
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            SentenceTransformerEmbedder()
    else:  # live environments exercise test_st_embedder_live.py instead
        assert SentenceTransformerEmbedder().dim == 384


def test_quality_report(spark, tables):
    rep = report(tables)
    totals = rep["sections"]["run_totals"][0]
    assert totals.total_read == 10
    eb = {r.error_code: r.cnt for r in rep["sections"]["error_breakdown"]}
    assert eb["UNKNOWN"] == 2
    comp = rep["sections"]["completeness"][0]
    assert comp.total_cases == 3
    assert comp.missing_judge == 1  # last-wins 00001 has empty judge
    cov = rep["sections"]["parties_coverage"][0]
    assert cov.with_plaintiff >= 2
    assert rep["failed_pct"] == 60.0  # 6/10 — way over threshold
    assert rep["ok"] is False
    bad_dates = rep["sections"]["bad_date_errors"][0]
    assert bad_dates.bad_date_errors == 1


def test_quality_report_since_scoping(spark, tables):
    # since far in the future -> no runs qualify -> empty breakdown (J6)
    rep = report(tables, since="2999-01-01")
    assert len(rep["sections"]["error_breakdown"]) == 0
    # run_id scoping keeps this run's errors
    rep2 = report(tables, run_id=1)
    assert len(rep2["sections"]["error_breakdown"]) > 0


def test_search_bounds_validation(spark, tables, view):
    emb = backfill_chunk_embeddings(tables["cases"], None, HashEmbedder())
    with pytest.raises(ValueError):
        search_dockets(view, emb, "x")  # < 2 chars -> 400
    with pytest.raises(ValueError):
        search_dockets(view, emb, "contract", top_k=0)
    with pytest.raises(ValueError):
        search_dockets(view, emb, "contract", top_k=51)


def test_error_details_struct(spark, tables):
    errs = tables["ingest_errors"]
    assert "details" in errs.columns
    row = errs.filter(errs.error_code == "BAD_DATE").select("details").collect()[0][0]
    assert row["context"] == "process_docket"
    assert row["why"].startswith("filed_date parse failed")
    assert row["raw"]["case_number"] is not None
    assert "ISO" in row["suggestion"]



#: Texts where a tokenizer or case-fold twin most easily drifts from
#: Spark: every PY_WS member, whitespace Python's \s knows but the
#: engines do not (\xa0, \x1c-\x1f, U+2003), supplementary code
#: points, and lower() special cases (dotted I, final sigma, sharp s).
EDGE_TEXTS = [
    "motion to dismiss",
    "Motion To DISMISS",
    "  leading and trailing  ",
    "tab\tnewline\ncr\rff\fvt\x0bend",
    "nbsp\xa0joined",
    "unit\x1fsep\x1cfile\x1dgroup\x1erecord",
    "em\u2003space",
    "emoji \U0001F600 gavel \u2696\ufe0f",
    "\U0001F600\U0001F600",
    "\u0130stanbul court",
    "\u0130",
    "\u039f\u0394\u039f\u03a3 \u03a3",
    "\u03a3\u03a3\u03a3",
    "Stra\u00dfe STRASSE stra\u00dfe",
    "caf\u00e9 cafe\u0301",
    "x",
    "ab",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z 0 1 2 3 4 5 6 7 8 9",
    "repeat repeat repeat other",
    "1:23-cv-00002 v. Acme, Inc. (N.D. Cal.)",
    "",
    "   ",
    "\t\x0b\n",
]


@pytest.mark.parametrize("dim", [64, 16, 7])
def test_hash_embed_bit_equals_spark_embedder(spark, dim):
    """hashembed.hash_embed (the query vector, computed in Python) must equal
    HashEmbedder.embed (the corpus-side Spark expression) bit for bit,
    or search scores the query in a different space than the chunks."""
    texts = EDGE_TEXTS + [d["docket_text"] for d in DOCKETS if d.get("docket_text")]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = {
        r.i: list(r.embedding)
        for r in HashEmbedder(dim).embed(df, "t").select("i", "embedding").collect()
    }
    for i, t in enumerate(texts):
        want = hash_embed(t, dim)
        assert len(want) == dim
        assert got[i] == want, f"text {t!r} diverges"
    assert hash_embed("   ", dim) == [0.0] * dim


def test_search_self_retrieval(spark, tables, view):
    """A case's first chunk, used as the query, ranks that case first
    with its chunk 0 at cosine ~1."""
    embedder = HashEmbedder()
    emb = backfill_chunk_embeddings(tables["cases"], None, embedder)
    emb = emb.localCheckpoint(eager=True)
    firsts = (
        emb.filter((F.col("chunk_id") == 0) & (F.length("chunk_text") > 0))
        .select("case_number", "chunk_text")
        .collect()
    )
    assert len(firsts) >= 2
    for r in firsts:
        hits = search_dockets(view, emb, r.chunk_text, top_k=3, embedder=embedder).collect()
        assert (hits[0].case_number, hits[0].chunk_id) == (r.case_number, 0)
        assert abs(hits[0].similarity - 1.0) < 1e-9
