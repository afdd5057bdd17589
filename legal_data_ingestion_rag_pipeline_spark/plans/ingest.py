"""Docket ingest pipeline — the reference's row-at-a-time loop
(ingest.py:676-798) re-expressed as one set-at-a-time Spark job DAG.

Validation parity (first failure wins, matching process_docket's
statement order, ingest.py:582-674):

1. case_number null            -> UNKNOWN   (NoneType .strip crash)
2. case_number blank           -> MISSING_CASE_NUMBER
3. filed_date unparseable/null -> BAD_DATE
4. court null or ''            -> FK_COURT
5. status null                 -> UNKNOWN   (NoneType .lower crash)
6. lower(status) not in enum   -> STATUS_UNMAPPED

Side-effect parity: court/judge/case_type dims (and their name
variations) grow from every row that passes checks 1-4 — including
rows that subsequently fail status validation, because the reference
creates entities before validating status.  Party dims grow only from
fully-good rows.  Every dim and the cases table get ids the same way:
new keys are numbered after the existing max id in first-seen order —
for parties, by (record, position in the record's parsed party list).

Variation parity: each batch's (entity_id, raw_name) stats merge into
the prior variations tables — seen_count adds, first_seen_at keeps the
earliest and last_seen_at the latest (ingest.py:405-416).

Counting parity: inserted = case_numbers new to the target seen for
the first time; every other good row (intra-file duplicate or existing
key) counts as updated; re-ingesting a file yields inserted=0.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.dates import parse_date_multi
from ..functions.normalize import (
    VALID_STATUSES,
    normalize_case_type,
    normalize_court,
    normalize_judge,
    normalize_party,
    normalize_status,
)
from ..functions.parties import parties_struct
from ..sources.readers import RAW_FIELDS


@dataclass
class IngestResult:
    run_id: int
    counts: dict[str, int]
    tables: dict[str, DataFrame] = field(default_factory=dict)
    quarantine: DataFrame | None = None
    errors: DataFrame | None = None
    cached: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist the batch's intermediate caches.  Call AFTER the
        result tables are materialized (written/collected) — they
        derive from these caches, so releasing earlier recomputes the
        whole validation pipeline on next touch.  A long-lived session
        (bench, streaming foreachBatch) that skips this accumulates
        one cached validation pass per batch in executor memory."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def canonical_record_hash(cols: list[str]) -> Column:
    """sha256 hex of the canonical JSON of the given columns — the
    reference's ``canonical_json`` + ``sha256_hex`` (ingest.py:42-49).

    Key order is sorted to match Python ``json.dumps(sort_keys=True)``;
    ``ignoreNullFields=false`` keeps explicit nulls, matching the
    reference's canonical form for null values.  Spark's to_json uses
    compact separators already.

    ENGINE-LOCAL, by design: the reference hashes only the keys present
    in each raw dict, so a record *omitting* a key and one carrying an
    explicit null hash differently there.  After ``spark.read.json``
    those two states are one and the same (missing key == null column),
    so this hash fixes the full column set and keeps explicit nulls.
    Within this engine the hash is stable and collision-behaviour
    matches the reference for records that carry all keys; cross-system
    hash equality is NOT guaranteed for records with omitted keys, and
    dedup/retry_count semantics here are defined over this engine's
    hash only.
    """
    payload = F.to_json(
        F.struct(*[F.col(c).alias(c) for c in sorted(cols)]),
        {"ignoreNullFields": "false"},
    )
    return F.sha2(payload, 256)


def validate(raw: DataFrame) -> DataFrame:
    """Attach normalized columns, the parsed party list ``_parties`` and
    error_code/error_why (null = good)."""
    df = raw.withColumn("record_hash", canonical_record_hash(list(RAW_FIELDS)))
    df = (
        df.withColumn("parsed_date", parse_date_multi("filed_date"))
        .withColumn("_parties", parties_struct("parties"))
        .withColumn("norm_court", normalize_court("court"))
        .withColumn("norm_judge", normalize_judge("judge"))
        .withColumn("norm_type", normalize_case_type("case_type"))
        .withColumn("lower_status", normalize_status("status"))
    )
    cn = F.col("case_number")
    status_ok = F.col("lower_status").isin(*VALID_STATUSES)
    error = (
        F.when(cn.isNull(), F.struct(F.lit("UNKNOWN").alias("code"),
               F.lit("'NoneType' object has no attribute 'strip'").alias("why")))
        .when(F.trim(cn) == "", F.struct(F.lit("MISSING_CASE_NUMBER").alias("code"),
              F.lit("case_number is required and cannot be empty").alias("why")))
        .when(F.col("parsed_date").isNull(), F.struct(F.lit("BAD_DATE").alias("code"),
              F.concat(F.lit("filed_date parse failed: "),
                       F.coalesce(F.col("filed_date"), F.lit("None"))).alias("why")))
        .when(F.col("court").isNull() | (F.col("court") == ""),
              F.struct(F.lit("FK_COURT").alias("code"),
                       F.lit("Court name cannot be empty").alias("why")))
        # present-but-empty case_type is a hard error in the reference
        # (ingest.py:506-507 raises before any insert; the message has no
        # classifier keyword, so _determine_error_code:826 yields
        # VALIDATION_ERROR).  A JSON null is indistinguishable from a
        # missing key after spark.read.json, so null keeps the reference's
        # missing-key default 'civil' (ingest.py:604) — the one residual
        # ambiguity, by design.
        .when(F.col("case_type") == "",
              F.struct(F.lit("VALIDATION_ERROR").alias("code"),
                       F.lit("Case type cannot be empty").alias("why")))
        .when(F.col("status").isNull(), F.struct(F.lit("UNKNOWN").alias("code"),
              F.lit("'NoneType' object has no attribute 'lower'").alias("why")))
        .when(~status_ok, F.struct(F.lit("STATUS_UNMAPPED").alias("code"),
              F.concat(F.lit("Invalid status '"), F.col("lower_status"),
                       F.lit("'. Must be one of: active, closed, pending, dismissed")).alias("why")))
    )
    return df.withColumn("error_code", error["code"]).withColumn("error_why", error["why"])


def _assign_ids(new: DataFrame, max_id: int) -> DataFrame:
    """Ids max_id+1, max_id+2, ... over the new keys in first-seen
    (``_first_seq``) order — the reference's SERIAL sequence."""
    w = Window.orderBy("_first_seq")
    return new.withColumn("id", (F.row_number().over(w) + F.lit(max_id)).cast("long"))


def _upsert_dim(existing: DataFrame | None, batch: DataFrame, max_id: int) -> DataFrame:
    """Get-or-create: new normalized names get ids in first-seen order
    (min _seq), appended after the existing dim's ``max_id`` (SURVEY
    S4/§4#1).  ``_seq`` may be any orderable key, e.g. a struct that
    breaks ties within a record."""
    firsts = (
        batch.groupBy("normalized_name")
        .agg(F.min("_seq").alias("_first_seq"), F.min_by("name", "_seq").alias("name"))
    )
    cols = ("id", "name", "normalized_name")
    if existing is None:
        return _assign_ids(firsts, max_id).select(*cols)
    new = firsts.join(existing.select("normalized_name"), "normalized_name", "left_anti")
    return existing.select(*cols).unionByName(_assign_ids(new, max_id).select(*cols))


def _variations(
    batch: DataFrame, dim: DataFrame, raw_col: str, ts: F.Column, prior: DataFrame | None
) -> DataFrame:
    """(entity_id, raw_name) seen stats for this batch (SURVEY S5/A11),
    merged into the ``prior`` variations table when there is one."""
    stats = (
        batch.join(dim, "normalized_name")
        .groupBy(F.col("id").alias("entity_id"), F.col(raw_col).alias("raw_name"))
        .agg(
            F.count("*").alias("seen_count"),
            F.min(ts).alias("first_seen_at"),
            F.max(ts).alias("last_seen_at"),
        )
    )
    if prior is None:
        return stats
    return merge_variations(prior, stats, ["entity_id", "raw_name"])


def merge_variations(existing: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Additive merge of batch stats into the standing variations table.

    Full-outer on the natural key; counters add, first_seen takes min,
    last_seen takes max. This is the parquet-safe MERGE equivalent —
    one shuffle on the key, no driver involvement.
    """
    e = existing.select(
        *keys,
        F.col("seen_count").alias("_e_cnt"),
        F.col("first_seen_at").alias("_e_first"),
        F.col("last_seen_at").alias("_e_last"),
    )
    b = batch.select(
        *keys,
        F.col("seen_count").alias("_b_cnt"),
        F.col("first_seen_at").alias("_b_first"),
        F.col("last_seen_at").alias("_b_last"),
    )
    return (
        e.join(b, keys, "full_outer")
        .select(
            *keys,
            (F.coalesce("_e_cnt", F.lit(0)) + F.coalesce("_b_cnt", F.lit(0))).alias(
                "seen_count"
            ),
            F.least("_e_first", "_b_first").alias("first_seen_at"),
            F.greatest("_e_last", "_b_last").alias("last_seen_at"),
        )
    )


def ingest_batch(
    spark: SparkSession,
    raw: DataFrame,
    existing: dict[str, DataFrame] | None = None,
    run_id: int = 1,
    known_max_ids: dict[str, int] | None = None,
) -> IngestResult:
    """One batch through the full pipeline; returns new table versions
    plus reference-parity counters.  `existing` carries prior versions
    of the warehouse tables (re-runs are idempotent: ids never churn,
    second ingest of the same file counts all-updated, and the name
    variations' seen counts add up).

    ``known_max_ids``: table -> max existing id, when the caller
    already holds it (a tlog warehouse replays per-file [min, max]
    stats from ONE manifest read — TlogStore.stat_max — so the max-id
    aggregate legs of the fused stats job disappear entirely; parquet
    int64 footer stats are exact).  Tables absent from the dict fall
    back to the in-job aggregate.
    """
    existing = existing or {}
    known_max_ids = known_max_ids or {}
    now = F.current_timestamp()
    validated = validate(raw).cache()

    bad = validated.filter(F.col("error_code").isNotNull())
    good = validated.filter(F.col("error_code").isNull())

    # --- dim source rows: pass checks 1-4 (court resolved), any status —
    # the reference creates entities before validating status, so rows
    # that later fail STATUS_UNMAPPED/UNKNOWN(status) still grow dims.
    passes_1_4 = (
        F.col("case_number").isNotNull()
        & (F.trim("case_number") != "")
        & F.col("parsed_date").isNotNull()
        & F.col("court").isNotNull()
        & (F.col("court") != "")
    )
    dim_src = validated.filter(passes_1_4).drop("_parties").cache()
    judges_src = dim_src.filter(
        F.col("judge").isNotNull() & (F.col("judge") != "") & (F.col("norm_judge") != "")
    )

    # --- cases: last-writer-wins per case_number by file order ---------
    # cached: the stats job computes this window anyway, which fills the
    # cache; the cases table's write then reuses it instead of re-running
    # the window
    w = Window.partitionBy("case_number").orderBy(F.desc("_seq"))
    w_all = Window.partitionBy("case_number")
    final_rows = (
        good.withColumn("_rn", F.row_number().over(w))
        .withColumn("_first_seq", F.min("_seq").over(w_all))
        .withColumn(
            "_has_p",
            F.max(F.when(F.size("_parties") > 0, 1).otherwise(0)).over(w_all),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_parties")
    ).cache()
    existing_cases = existing.get("cases")

    # --- TWO stats jobs: cache-fill count, then ONE fused job ----------
    # Every scalar the batch needs is an independent tiny aggregate;
    # issued one by one they cost a driver round-trip (a Spark job)
    # each.  They run as two jobs instead.
    #
    # The input-side scalars run FIRST, alone, because that job is what
    # populates the `validated` cache: later jobs read `validated`
    # through independent concurrent stages, and an unpopulated cache
    # makes each reader recompute the JSON validation base (cache
    # writes race, last wins — measured +33% task time on
    # ingest_timetravel_cases when everything was one job).  count(*)
    # and the good-row count are partial aggregates of the same scan.
    _first = validated.agg(
        F.count("*").cast("long").alias("_total"),
        F.count(F.when(F.col("error_code").isNull(), 1)).cast("long").alias("_good"),
    ).collect()[0]
    total_read = int(_first["_total"])
    n_good = int(_first["_good"])

    # The second job unions one 1-row aggregate over final_rows with a
    # max-id leg per existing table, each row tagged with its name.
    # final_rows reaches it through this single leg, so its cache fills
    # once.  The _e left join is against keys unique on case_number, so
    # no row fans out and count(_e IS NULL) counts the new case_numbers.
    marks = final_rows.select("case_number", "_has_p")
    if existing_cases is not None:
        marks = marks.join(
            existing_cases.select("case_number").withColumn("_e", F.lit(1)),
            "case_number",
            "left",
        )
    else:
        marks = marks.withColumn("_e", F.lit(None).cast("int"))
    stat_parts = [
        marks.agg(
            F.count(F.when(F.col("_e").isNull(), 1)).cast("long").alias("inserted"),
            F.count(F.when(F.col("_has_p") == 0, 1)).cast("long").alias("no_parties"),
        ).select(F.expr("stack(2, 'inserted', inserted, 'no_parties', no_parties) AS (tag, v)"))
    ]
    stats: dict[str, int] = {}
    for tbl in ("courts", "judges", "case_types", "parties", "cases"):
        prior = existing.get(tbl)
        if prior is None:
            continue
        if known_max_ids.get(tbl) is not None:
            stats[tbl] = int(known_max_ids[tbl])
        else:
            stat_parts.append(
                prior.agg(F.max("id").cast("long").alias("v")).select(
                    F.lit(tbl).alias("tag"), "v"
                )
            )
    fused = stat_parts[0]
    for part in stat_parts[1:]:
        fused = fused.unionByName(part)
    stats.update({r.tag: int(r.v or 0) for r in fused.collect()})
    n_inserted = stats["inserted"]
    n_no_parties = stats["no_parties"]
    n_updated = n_good - n_inserted

    courts = _upsert_dim(
        existing.get("courts"),
        dim_src.select(F.col("court").alias("name"), F.col("norm_court").alias("normalized_name"), "_seq"),
        max_id=stats.get("courts", 0),
    ).cache()
    judges = _upsert_dim(
        existing.get("judges"),
        judges_src.select(F.col("judge").alias("name"), F.col("norm_judge").alias("normalized_name"), "_seq"),
        max_id=stats.get("judges", 0),
    ).cache()
    # an empty case_type is quarantined before the reference creates a
    # type; a null one is its missing-key default, named 'civil'
    case_types = _upsert_dim(
        existing.get("case_types"),
        dim_src.filter(~F.col("case_type").eqNullSafe("")).select(
            F.coalesce("case_type", F.lit("civil")).alias("name"),
            F.col("norm_type").alias("normalized_name"),
            "_seq",
        ),
        max_id=stats.get("case_types", 0),
    ).cache()

    court_vars = _variations(
        dim_src.select(F.col("norm_court").alias("normalized_name"), F.col("court")).withColumn("_ts", now),
        courts, "court", F.col("_ts"), existing.get("court_name_variations"),
    )
    judge_vars = _variations(
        judges_src.select(F.col("norm_judge").alias("normalized_name"), F.col("judge")).withColumn("_ts", now),
        judges, "judge", F.col("_ts"), existing.get("judge_name_variations"),
    )

    # deterministic case ids: existing keep theirs; new ids by first-seen
    first_seen = final_rows.select("case_number", "_first_seq")
    if existing_cases is not None:
        keyed_existing = existing_cases.select("id", "case_number")
        new_keys = first_seen.join(
            keyed_existing.select("case_number"), "case_number", "left_anti"
        )
        case_ids = keyed_existing.unionByName(
            _assign_ids(new_keys, stats["cases"]).select("id", "case_number")
        )
    else:
        case_ids = _assign_ids(first_seen, 0).select("id", "case_number")
    # dims and case_ids are read by 2-3 of the concurrently-committed
    # tables each (dim table + variations + cases/case_parties);
    # caching them turns those repeats into one computation apiece
    # (dictionary-sized frames — negligible storage)
    case_ids = case_ids.cache()

    cases = (
        final_rows.join(case_ids, "case_number")
        .join(F.broadcast(courts.select(F.col("id").alias("court_id"), F.col("normalized_name").alias("norm_court"))), "norm_court")
        .join(F.broadcast(judges.select(F.col("id").alias("judge_id"), F.col("normalized_name").alias("norm_judge"))), "norm_judge", "left")
        .join(F.broadcast(case_types.select(F.col("id").alias("case_type_id"), F.col("normalized_name").alias("norm_type"))), "norm_type")
        .select(
            "id",
            "case_number",
            "court_id",
            F.coalesce(F.col("title"), F.lit("")).alias("title"),
            F.col("parsed_date").alias("filed_date"),
            "case_type_id",
            "judge_id",
            F.coalesce(F.col("docket_text"), F.lit("")).alias("docket_text"),
            F.col("lower_status").alias("status"),
            now.alias("created_at"),
            now.alias("updated_at"),
        )
    )
    if existing_cases is not None:
        untouched = existing_cases.join(cases.select("case_number"), "case_number", "left_anti")
        cases = untouched.unionByName(cases)

    # --- parties: from EVERY good row (reference inserts per processed
    # row with ON CONFLICT DO NOTHING), dedup (case_id, party_id, role).
    # New parties are numbered by (record, position in its party list).
    # cached: the parties dim, its variations and case_parties all read it
    exploded = (
        good.select("case_number", "_seq", F.posexplode("_parties").alias("_pos", "_p"))
        .select(
            "case_number",
            F.struct("_seq", "_pos").alias("_seq"),
            "_p.party_name",
            "_p.role",
        )
        .withColumn("norm_party", normalize_party("party_name"))
        .cache()
    )
    parties_dim = _upsert_dim(
        existing.get("parties"),
        exploded.select(F.col("party_name").alias("name"), F.col("norm_party").alias("normalized_name"), "_seq"),
        max_id=stats.get("parties", 0),
    ).cache()
    party_vars = _variations(
        exploded.select(F.col("norm_party").alias("normalized_name"), F.col("party_name").alias("party")).withColumn("_ts", now),
        parties_dim, "party", F.col("_ts"), existing.get("party_name_variations"),
    )
    case_parties = (
        exploded.join(case_ids.select(F.col("id").alias("case_id"), "case_number"), "case_number")
        .join(F.broadcast(parties_dim.select(F.col("id").alias("party_id"), F.col("normalized_name").alias("norm_party"))), "norm_party")
        .select("case_id", "party_id", "role")
        .dropDuplicates(["case_id", "party_id", "role"])
    )
    prior_cp = existing.get("case_parties")
    if prior_cp is not None:
        case_parties = prior_cp.select("case_id", "party_id", "role").unionByName(
            case_parties
        ).dropDuplicates(["case_id", "party_id", "role"])

    n_failed = total_read - n_good

    # --- errors table: keyed (run_id, record_hash); retry_count =
    # occurrences - 1 (SURVEY S6).
    # details mirrors the reference's JSONB payload (ingest.py:218-224,
    # schema.sql:199) as a TYPED nested struct — queryable columns, not
    # an opaque string; to_json(details) reproduces the JSONB form.
    suggestion = (
        F.when(F.col("error_code") == "BAD_DATE",
               F.lit("use ISO yyyy-MM-dd or M/d/yyyy"))
        .when(F.col("error_code") == "MISSING_CASE_NUMBER",
              F.lit("populate case_number"))
        .when(F.col("error_code") == "STATUS_UNMAPPED",
              F.lit("status must be one of active/closed/pending/dismissed"))
        .when(F.col("error_code") == "FK_COURT", F.lit("populate court"))
        .otherwise(F.lit("inspect raw record"))
    )
    details = F.struct(
        F.struct(*[F.col(c) for c in RAW_FIELDS]).alias("raw"),
        F.struct(
            F.date_format("parsed_date", "yyyy-MM-dd").alias("parsed_date"),
            F.col("lower_status").alias("status"),
            F.col("norm_court").alias("court"),
        ).alias("normalized_attempt"),
        F.lit("process_docket").alias("context"),
        F.col("error_why").alias("why"),
        suggestion.alias("suggestion"),
    )
    errors = (
        bad.withColumn("details", details)
        .groupBy("record_hash")
        .agg(
            F.count("*").alias("_n"),
            F.min_by(
                F.struct("error_code", "error_why", "case_number", "details"),
                "_seq",
            ).alias("_f"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "record_hash",
            F.col("_f.case_number").alias("case_number"),
            F.col("_f.error_code").alias("error_code"),
            F.col("_f.error_why").alias("error_message"),
            F.col("_f.details").alias("details"),
            now.alias("first_seen_at"),
            now.alias("last_seen_at"),
            (F.col("_n") - 1).cast("int").alias("retry_count"),
            F.lit(False).alias("resolved"),
        )
    )

    quarantine = bad.select(
        F.lit(run_id).alias("run_id"),
        "error_code",
        F.col("error_why").alias("why"),
        F.struct(*[F.col(c) for c in RAW_FIELDS]).alias("raw"),
        F.date_format(now, "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
        "record_hash",
    )

    counts = {
        "read": total_read,
        "inserted": n_inserted,
        "updated": n_updated,
        "failed": n_failed,
        "warnings_no_parties": n_no_parties,
    }
    # built on the JVM: a createDataFrame from Python rows is a Python
    # RDD, whose scan starts Python workers for this one row
    run_vals = {
        "run_id": run_id, "total_read": total_read, "total_inserted": n_inserted,
        "total_updated": n_updated, "total_failed": n_failed,
    }
    run_row = spark.range(1, numPartitions=1).select(
        *[F.lit(v).cast("long").alias(c) for c, v in run_vals.items()],
        now.alias("started_at"),
        now.alias("finished_at"),
    )

    prior_runs = existing.get("ingest_runs")
    runs = run_row if prior_runs is None else prior_runs.unionByName(run_row, allowMissingColumns=True)
    prior_errors = existing.get("ingest_errors")
    all_errors = errors if prior_errors is None else prior_errors.unionByName(errors, allowMissingColumns=True)

    tables = {
        "cases": cases,
        "courts": courts,
        "judges": judges,
        "case_types": case_types,
        "parties": parties_dim,
        "case_parties": case_parties,
        "court_name_variations": court_vars,
        "judge_name_variations": judge_vars,
        "party_name_variations": party_vars,
        "ingest_runs": runs,
        "ingest_errors": all_errors,
    }
    return IngestResult(
        run_id=run_id, counts=counts, tables=tables, quarantine=quarantine,
        errors=errors,
        cached=[validated, dim_src, final_rows, exploded,
                courts, judges, case_types, parties_dim, case_ids],
    )
