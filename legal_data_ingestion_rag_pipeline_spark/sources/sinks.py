"""Sinks: quarantine JSONL (SURVEY S2) and the warehouse table stores.

Quarantine rows mirror ingest.py:189-197's shape: one JSON object per
failed record with run/error metadata plus the raw payload.
``ParquetStore`` is the plain-parquet stand-in for Delta tables: writes
are staged then swapped so a table can be rebuilt from a plan that
reads its previous version, and no history is kept.  ``TlogStore``
backs the same interface with the transaction-log table format
(operators/tlog.py): atomic versioned commits, time travel and
manifest statistics.
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


class ParquetStore:
    """Minimal multi-table parquet store with staged overwrites.

    write() stages to `<table>.__stage__` then swaps, so plans that
    derive the new version of a table from its current version don't
    clobber their own input mid-job (the classic parquet self-overwrite
    trap; Delta solves this transactionally — same call shape here).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> Path:
        return self.root / table

    def exists(self, table: str) -> bool:
        return self.path(table).exists()

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(str(self.path(table)))

    def _stage(self, table: str, df: DataFrame) -> Path:
        stage = self.root / f"{table}.__stage__"
        df.write.mode("overwrite").parquet(str(stage))
        return stage

    def _swap(self, table: str, stage: Path) -> None:
        target = self.path(table)
        if target.exists():
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
