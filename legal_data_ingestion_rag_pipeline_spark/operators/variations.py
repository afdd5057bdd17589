"""Name-variation tracking (SURVEY S5/A11).

The reference upserts one row per (entity_id, raw_name) and bumps
seen_count / last_seen_at on conflict (ingest.py:405-416). Set-at-a-
time re-expression: aggregate the batch once, then merge into the
existing variations table with additive counters (the merge lives in
plans/ingest.merge_variations, beside the docket ingest that runs it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def batch_variation_stats(
    df: DataFrame,
    entity_col: str,
    raw_name_col: str,
    ts_col: str,
) -> DataFrame:
    """(entity, raw_name) -> seen_count, first/last seen in this batch."""
    return df.groupBy(entity_col, raw_name_col).agg(
        F.count("*").alias("seen_count"),
        F.min(ts_col).alias("first_seen_at"),
        F.max(ts_col).alias("last_seen_at"),
    )

