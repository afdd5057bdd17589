"""Sinks: quarantine JSONL (SURVEY S2) and parquet table persistence.

Quarantine rows mirror ingest.py:189-197's shape: one JSON object per
failed record with run/error metadata plus the raw payload.  The
parquet store is the plain-parquet stand-in for Delta tables — writes
are staged then swapped so a table can be rebuilt from a plan that
reads its previous version.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_quarantine(bad_rows: DataFrame, out_dir: str, run_id: int) -> str:
    """Append quarantine rows as JSONL under ingest_run_<id>/ (the
    reference appends to a single file; a distributed writer appends a
    directory of part files with identical line shape)."""
    path = str(Path(out_dir) / f"ingest_run_{run_id}")
    bad_rows.select(F.to_json(F.struct("*")).alias("value")).write.mode(
        "append"
    ).text(path)
    return path


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str,
) -> None:
    """Persist a table bucketed (and sorted) by its join key.

    Bucketing is the 100 TB co-location tool: two tables bucketed by
    the same key into the same bucket count join WITHOUT a shuffle —
    every bucket pair meets on one task (the physical test asserts the
    Exchange-free plan). Spark's native catalog handles this without
    Hive; `path` keeps the data external.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


class ParquetStore:
    """Minimal multi-table parquet store with staged overwrites.

    write() stages to `<table>.__stage__` then swaps, so plans that
    derive the new version of a table from its current version don't
    clobber their own input mid-job (the classic parquet self-overwrite
    trap; Delta solves this transactionally — same call shape here).
    """

    def __init__(self, spark: SparkSession, root: str, keep_versions: int = 0):
        """``keep_versions`` > 0 opts into time travel: each overwrite
        retires the previous table directory as `<table>.__v{N}__`
        instead of deleting it, keeping the most recent N snapshots —
        the parquet analog of Delta's `VERSION AS OF` (reproducing a
        training run against the exact corpus snapshot it saw is a
        routine data-pipeline ask). Default 0 preserves the original
        delete-on-overwrite behavior."""
        self.spark = spark
        self.root = Path(root)
        self.keep_versions = keep_versions
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> Path:
        return self.root / table

    def exists(self, table: str) -> bool:
        return self.path(table).exists()

    def versions(self, table: str) -> list[int]:
        """Retired snapshot numbers, oldest first (current excluded)."""
        out = []
        for p in self.root.glob(f"{table}.__v*__"):
            try:
                out.append(int(p.name[len(table) + 4 : -2]))
            except ValueError:
                continue
        return sorted(out)

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Read the current table, or a retired snapshot by number
        (from versions()) when time travel is enabled."""
        if version is None:
            return self.spark.read.parquet(str(self.path(table)))
        return self.spark.read.parquet(
            str(self.root / f"{table}.__v{version}__")
        )

    def _stage(self, table: str, df: DataFrame) -> Path:
        stage = self.root / f"{table}.__stage__"
        df.write.mode("overwrite").parquet(str(stage))
        return stage

    def _swap(self, table: str, stage: Path) -> None:
        target = self.path(table)
        if target.exists():
            if self.keep_versions > 0:
                vs = self.versions(table)
                target.rename(
                    self.root / f"{table}.__v{(vs[-1] + 1) if vs else 1}__"
                )
                for old in self.versions(table)[: -self.keep_versions]:
                    shutil.rmtree(self.root / f"{table}.__v{old}__")
            else:
                shutil.rmtree(target)
        stage.rename(target)

    def write(self, table: str, df: DataFrame) -> None:
        self._swap(table, self._stage(table, df))

    def write_all(self, tables: dict[str, DataFrame]) -> None:
        """Stage EVERY table, then swap EVERY table.

        Plans for one new table version routinely read OTHER tables'
        current versions (e.g. the new parties junction reads current
        cases); swapping per-table would delete files that a later
        still-lazy plan needs. Two phases make the whole batch
        all-stage-then-all-swap — the parquet analog of a Delta
        multi-table transaction commit. If any stage write fails, the
        already-staged directories are cleaned up and no swap happens.
        """
        staged: dict[str, Path] = {}
        try:
            for name, df in tables.items():
                staged[name] = self._stage(name, df)
        except BaseException:
            for stage in staged.values():
                shutil.rmtree(stage, ignore_errors=True)
            raise
        for name, stage in staged.items():
            self._swap(name, stage)


class TlogStore:
    """The ParquetStore interface backed by the transaction-log table
    format (operators/tlog.py) — every write is a tlog commit, so the
    whole ingest warehouse gains time travel, vacuum, and manifest-
    resolved reads for free (the reference's audit-trail story,
    schema.sql:179-205, met by format-level history instead of
    trigger tables).

    Contrast with ParquetStore's stage-then-swap: a tlog commit writes
    data files to a NEW version directory while any in-flight lazy
    plan keeps reading the previous version's files (never deleted by
    a commit — only by vacuum), and the manifest append is the atomic
    switch.  The parquet self-overwrite trap therefore cannot occur,
    and write_all needs no two-phase staging: tables commit
    sequentially, each plan still resolving the file lists it was
    built against.

    read(table, version=N) is `VERSION AS OF N` per table; every
    batch ingest becomes one committed version per touched table, so
    "the cases table exactly as run 3 left it" is a manifest replay,
    not a reconstruction.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stats_cols: dict[str, str] | None = None,
    ):
        """``stats_cols``: table -> column whose per-file [min, max]
        every commit records in the manifest (the Iceberg manifest-
        stats half of the tlog format).  Beyond read-side file
        skipping, :meth:`stat_max` answers max(col) from ONE manifest
        read — zero Spark jobs — which the ingest pipeline uses for
        its dim/case max-id scalars (r14; parquet int64 footer stats
        are exact)."""
        self.spark = spark
        self.root = Path(root)
        self.stats_cols = dict(stats_cols or {})
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> Path:
        return self.root / table

    def exists(self, table: str) -> bool:
        from ..operators import tlog

        return tlog.current_version(str(self.path(table))) >= 0

    def current_version(self, table: str) -> int:
        from ..operators import tlog

        return tlog.current_version(str(self.path(table)))

    def read(self, table: str, version: int | None = None) -> DataFrame:
        from ..operators import tlog

        return tlog.read_version(self.spark, str(self.path(table)), version)

    def write(self, table: str, df: DataFrame) -> int:
        """MERGE-result persistence: commit ``df`` as a new overwrite
        version (the post-merge state IS the table)."""
        from ..operators import tlog

        return tlog.commit(
            df,
            str(self.path(table)),
            "overwrite",
            stats_col=self.stats_cols.get(table),
        )

    def stat_max(self, table: str, version: int | None = None):
        """max(stats_col) over the live set at ``version``, replayed
        from the manifest's per-file [min, max] — no Spark job, no
        data read.  None when the table has no stats column configured
        or any live file lacks recorded stats (callers fall back to an
        in-job aggregate; the answer is exact or absent, never
        approximate)."""
        from ..operators import tlog

        if table not in self.stats_cols:
            return None
        pairs = tlog.live_files(
            str(self.path(table)), version, with_stats=True
        )
        if not pairs or any(st is None for _, st in pairs):
            return None
        return max(st[1] for _, st in pairs)

    def append(self, table: str, df: DataFrame) -> int:
        """Log-shaped tables (errors, runs, quarantine mirrors):
        commit only the new rows; history replay unions them."""
        from ..operators import tlog

        return tlog.commit(df, str(self.path(table)), "append")

    def write_all(
        self,
        tables: dict[str, DataFrame],
        first: tuple[str, ...] = (),
    ) -> dict[str, int]:
        """Commit every table; returns table -> version.

        Commits run CONCURRENTLY across tables (a thread pool
        submitting independent Spark jobs): each table owns its own
        directory and manifest, so there is no cross-table state and
        the single-writer-per-table contract holds.  For a batch
        touching ~10 tables this turns the wall cost from the sum of
        ten small write jobs into the max of them — the same reason
        real lakehouse writers commit independent tables in parallel.
        No staging needed — see the class docstring.

        ``first``: table names to commit (concurrently among
        themselves) BEFORE the remaining tables.  The ingest caller
        passes its dim tables: each dim's cached frame is read by 2-3
        downstream table plans (dim table + variations + fact joins),
        and in a single all-concurrent wave every first toucher races
        the unpopulated cache and recomputes the upsert plan.  Wave 1
        makes each dim's own commit the sole (single-computation)
        cache filler; wave 2's consumers then read warm caches.  Names
        not present in ``tables`` are ignored; default () keeps the
        one-wave behavior."""
        from concurrent.futures import ThreadPoolExecutor

        if not tables:
            return {}
        wave1 = {n: tables[n] for n in first if n in tables}
        wave2 = {n: df for n, df in tables.items() if n not in wave1}
        out: dict[str, int] = {}
        for wave in (wave1, wave2):
            if not wave:
                continue
            with ThreadPoolExecutor(max_workers=min(8, len(wave))) as ex:
                futs = {name: ex.submit(self.write, name, df)
                        for name, df in wave.items()}
                out.update(
                    {name: fut.result() for name, fut in futs.items()}
                )
        return out

    def vacuum(self, table: str, keep_from_version: int) -> list[str]:
        from ..operators import tlog

        return tlog.vacuum(str(self.path(table)), keep_from_version)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 256,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files
    near ``target_file_mb`` and return the output file count.

    Streaming ingests and fine-grained partition writes accumulate
    thousands of KB-scale files; at 100 TB the resulting per-file scan
    tasks and NameNode/listing pressure dominate query latency, so
    periodic compaction is part of the table lifecycle (what Delta's
    OPTIMIZE does).  File count is computed from the ACTUAL on-disk
    bytes (not a row-count heuristic), coalesce() avoids a shuffle
    when shrinking, and an optional sortWithinPartitions clusters rows
    for min/max page skipping (the poor man's Z-order; output stats
    then prune like the partitioned-write test asserts).

    The sorted path uses repartitionByRange on the sort keys — a
    round-robin repartition would give every output file the FULL key
    range, so per-file min/max stats could never prune; range
    partitioning makes the per-file key ranges disjoint, which is the
    whole point of sorting during compaction.
    """
    src = Path(in_path)
    total_bytes = sum(
        f.stat().st_size for f in src.rglob("*.parquet") if f.is_file()
    )
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_path)
    if sort_within_by:
        df = df.repartitionByRange(
            int(n_files), *sort_within_by
        ).sortWithinPartitions(*sort_within_by)
    else:
        df = df.coalesce(int(n_files))
    df.write.mode("overwrite").parquet(out_path)
    return int(n_files)


def analyze_table(spark: SparkSession, table: str, columns: list[str] | None = None) -> dict:
    """Collect CBO statistics for a catalog table (the ANALYZE TABLE
    step a 100 TB deployment runs after large writes): row count +
    size always; per-column ndv/min/max/null-count when ``columns``
    given.  Cost-based join reordering and broadcast decisions are
    only as good as these stats — an unanalyzed table falls back to
    file-size heuristics, which misestimate filtered cardinalities by
    orders of magnitude.  Returns the collected table-level stats."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    stats = next(
        (r.data_type for r in rows if r.col_name == "Statistics"), ""
    )
    return {"table": table, "statistics": stats}
