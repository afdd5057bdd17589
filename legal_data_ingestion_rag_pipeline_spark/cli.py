"""Command-line surface mirroring the reference's three executables
(ingest.py / rag.py / data_quality.py CLIs) over the Spark engine, so
a user of the reference can run the same workflows:

    python -m legal_data_ingestion_rag_pipeline_spark.cli \\
        ingest --file data/raw_dockets.json [--store ./warehouse] [--selftest]
    python -m legal_data_ingestion_rag_pipeline_spark.cli \\
        rag backfill | rag search --q "..." [--k 5]
    python -m legal_data_ingestion_rag_pipeline_spark.cli \\
        quality [--run-id N] [--since YYYY-MM-DD] [--store ./warehouse]

State persists across invocations in a ParquetStore (the plain-parquet
stand-in for Delta tables). Exit codes follow the reference: quality
exits 1 when failed% > 5 or any missing-dim% > 10
(data_quality.py:464-480); ingest prints the run-summary JSON
(ingest.py:768-773 shape).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TABLES = (
    "cases",
    "courts",
    "judges",
    "case_types",
    "parties",
    "case_parties",
    "court_name_variations",
    "judge_name_variations",
    "party_name_variations",
    "ingest_runs",
    "ingest_errors",
)


def _store(spark: SparkSession, root: str, fmt: str = "parquet"):
    """``fmt='tlog'`` backs the warehouse with the transaction-log
    table format (sources/sinks.TlogStore): every ingest run commits
    one version per table, so any run's exact table state reads back
    with ``store.read(table, version=N)`` — the reference's audit
    trail (schema.sql:179-205) as format-level history."""
    if fmt == "tlog":
        from .sources.sinks import TlogStore

        return TlogStore(spark, root)
    from .sources.sinks import ParquetStore

    return ParquetStore(spark, root)


def _load_tables(store) -> dict:
    return {t: store.read(t) for t in TABLES if store.exists(t)}


def cmd_ingest(spark: SparkSession, args) -> int:
    from .plans.ingest import ingest_batch
    from .sources.readers import read_raw_dockets
    from .sources.sinks import write_quarantine

    if args.selftest:
        from .functions.dates import selftest

        ok = selftest(spark)
        print(json.dumps({"selftest": "ok" if ok else "failed"}))
        return 0 if ok else 1

    store = _store(spark, args.store, getattr(args, "format", "parquet"))
    existing = _load_tables(store)
    run_id = 1
    if "ingest_runs" in existing:
        prev = existing["ingest_runs"].agg({"run_id": "max"}).collect()[0][0]
        run_id = int(prev or 0) + 1
    if getattr(args, "reader", "builtin") == "datasource":
        from .sources.docket_datasource import read_raw_dockets_source

        raw = read_raw_dockets_source(spark, args.file)
    else:
        raw = read_raw_dockets(spark, args.file)
    result = ingest_batch(spark, raw, existing=existing or None, run_id=run_id)
    store.write_all(result.tables)
    result.release()
    if result.quarantine is not None:
        # ingest_batch already shapes quarantine rows in the reference's
        # JSONL form (run_id, error_code, why, raw, ts, record_hash)
        write_quarantine(result.quarantine, f"{args.store}/quarantine", run_id)
    print(json.dumps({"run_id": run_id, "summary": result.counts}))
    return 0


def cmd_rag(spark: SparkSession, args) -> int:
    from .plans.queries import serving_view
    from .plans.rag import HashEmbedder, backfill_chunk_embeddings, search_dockets

    store = _store(spark, args.store, getattr(args, "format", "parquet"))
    tables = _load_tables(store)
    if "cases" not in tables:
        print(json.dumps({"error": "no cases table — run ingest first"}))
        return 1
    embedder = HashEmbedder()
    if args.rag_cmd == "backfill":
        existing = store.read("case_chunk_embeddings") if store.exists("case_chunk_embeddings") else None
        chunks = backfill_chunk_embeddings(tables["cases"], existing, embedder)
        # materialize before the swap: the lineage reads the files the
        # swap is about to delete, so a post-write count would reread
        # deleted parts (and re-run the whole embed pipeline anyway)
        chunks = chunks.localCheckpoint(eager=True)
        store.write("case_chunk_embeddings", chunks)
        print(json.dumps({"chunks": chunks.count()}))
        return 0
    if not store.exists("case_chunk_embeddings"):
        print(json.dumps({"error": "no embeddings — run backfill first"}))
        return 1
    try:
        hits = search_dockets(
            serving_view(tables),
            store.read("case_chunk_embeddings"),
            args.q,
            top_k=args.k,
            embedder=embedder,
        )
    except ValueError as e:  # request-bound violations -> 400 contract
        print(json.dumps({"error": str(e)}))
        return 1
    for row in hits.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_fts(spark: SparkSession, args) -> int:
    """BM25 keyword search over docket text — the query surface the
    reference's GIN FTS index (schema.sql:140-141) was declared for
    but never received. Ranks over the persisted cases table."""
    from .operators.fts import bm25_topk

    store = _store(spark, args.store, getattr(args, "format", "parquet"))
    if not store.exists("cases"):
        print(json.dumps({"error": "no cases table — run ingest first"}))
        return 1
    import re

    terms = re.findall(r"[a-z0-9]+", args.q.lower())
    if not terms:
        print(json.dumps({"error": "query must contain at least one term"}))
        return 1
    cases = store.read("cases")
    hits = bm25_topk(
        cases, "id", "docket_text", terms, k=args.k, tokenizer="word"
    )
    meta = cases.select("id", "case_number", "title")
    ranked = (
        hits.join(meta, hits.doc_id == meta.id)
        .select("doc_id", "case_number", "title", "n_terms_hit", "score")
        # preserve bm25_topk's deterministic tie-break (score DESC,
        # doc_id ASC) — score alone reorders equal-score docs randomly
        .orderBy(F.desc("score"), "doc_id")
    )
    for row in ranked.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_quality(spark: SparkSession, args) -> int:
    from .plans.quality_report import report

    store = _store(spark, args.store, getattr(args, "format", "parquet"))
    tables = _load_tables(store)
    missing = [t for t in ("cases", "ingest_runs", "ingest_errors") if t not in tables]
    if missing:
        print(json.dumps({"error": f"missing tables: {missing} — run ingest first"}))
        return 1
    rep = report(tables, run_id=args.run_id, since=args.since)
    out = {
        "failed_pct": rep["failed_pct"],
        "missing_pct": rep["missing_pct"],
        "ok": rep["ok"],
        "sections": {
            name: [r.asDict() for r in df.collect()]
            for name, df in rep["sections"].items()
        },
    }
    print(json.dumps(out, default=str))
    return 0 if rep["ok"] else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="legal_data_ingestion_rag_pipeline_spark")
    # NOTE: --store lives on each subcommand only; a top-level --store
    # would be silently clobbered by the subparser's default (argparse
    # copies subparser defaults over parent-provided values).
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest")
    pi.add_argument("--file")
    pi.add_argument("--selftest", action="store_true")
    pi.add_argument("--store", default="./warehouse")
    pi.add_argument("--format", choices=("parquet", "tlog"), default="parquet")
    # builtin = multiLine JSON reader; datasource = the docketjson
    # Python DataSource connector (file-parallel, stable _seq)
    pi.add_argument(
        "--reader", choices=("builtin", "datasource"), default="builtin"
    )

    pr = sub.add_parser("rag")
    rsub = pr.add_subparsers(dest="rag_cmd", required=True)
    rb = rsub.add_parser("backfill")
    rb.add_argument("--store", default="./warehouse")
    rb.add_argument("--format", choices=("parquet", "tlog"), default="parquet")
    rs = rsub.add_parser("search")
    rs.add_argument("--q", required=True)
    rs.add_argument("--k", type=int, default=5)
    rs.add_argument("--store", default="./warehouse")
    rs.add_argument("--format", choices=("parquet", "tlog"), default="parquet")

    pq = sub.add_parser("quality")
    pq.add_argument("--run-id", type=int, default=None)
    pq.add_argument("--since", default=None)
    pq.add_argument("--store", default="./warehouse")
    pq.add_argument("--format", choices=("parquet", "tlog"), default="parquet")

    pf = sub.add_parser("fts")
    pf.add_argument("--q", required=True)
    pf.add_argument("--k", type=int, default=10)
    pf.add_argument("--store", default="./warehouse")
    pf.add_argument("--format", choices=("parquet", "tlog"), default="parquet")

    args = p.parse_args(argv)
    from .session import build_session

    spark = build_session("legal_rag_cli")
    if args.cmd == "ingest":
        if not args.selftest and not args.file:
            p.error("ingest requires --file (or --selftest)")
        return cmd_ingest(spark, args)
    if args.cmd == "rag":
        return cmd_rag(spark, args)
    if args.cmd == "fts":
        return cmd_fts(spark, args)
    return cmd_quality(spark, args)


if __name__ == "__main__":
    sys.exit(main())
