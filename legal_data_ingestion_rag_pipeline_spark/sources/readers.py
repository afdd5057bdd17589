"""Raw docket reader (SURVEY S1).

The reference loads a whole JSON array of dirty dicts
(ingest.py:693-694); Spark-first equivalent: multiLine JSON read with
an explicit permissive 9-string schema (schema-on-read; no inference
pass) plus a file-order sequence column for last-writer-wins
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

RAW_FIELDS = (
    "case_number",
    "court",
    "title",
    "filed_date",
    "parties",
    "case_type",
    "judge",
    "docket_text",
    "status",
)

RAW_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType(), True) for f in RAW_FIELDS]
)

#: ``_seq`` stride between input files: monotonically_increasing_id
#: keeps the record number within a partition in its low 33 bits.
SEQ_FILE_STRIDE = 1 << 33


def read_raw_dockets(spark: SparkSession, path: str) -> DataFrame:
    """Read JSON arrays of docket records with `_seq` = file order.

    ``path`` may be a glob.  `_seq` orders files by sorted path and
    records by array position, so last-writer-wins across files
    matches the reference processing the sorted file list in turn.
    Spark packs file splits largest first, so partition order alone
    would order files by size; the file's index in the sorted list
    supplies the high part instead.  The low part is the record number
    within the partition: a multiLine file is one unsplittable split,
    so its records stay in array order even when small files share a
    partition.  A single file gives `_seq` = 0..n-1.
    """
    df = spark.read.schema(RAW_SCHEMA).option("multiLine", True).json(path)
    files = F.array(*(F.lit(f) for f in sorted(df.inputFiles())))
    file_index = F.array_position(files, F.input_file_name()) - 1
    record = F.monotonically_increasing_id() % SEQ_FILE_STRIDE
    return df.withColumn("_seq", file_index * SEQ_FILE_STRIDE + record)


def raw_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Test helper: the same shape from in-memory dicts (order = list
    order)."""
    data = [tuple(r.get(f) for f in RAW_FIELDS) for r in rows]
    df = spark.createDataFrame(data, RAW_SCHEMA)
    return df.coalesce(1).withColumn("_seq", F.monotonically_increasing_id())
