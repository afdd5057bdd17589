"""Sinks: quarantine JSONL (SURVEY S2) and the warehouse store.

Quarantine rows mirror ingest.py:189-197's shape: one JSON object per
failed record with run/error metadata plus the raw payload.
``ParquetStore`` is the plain-parquet stand-in for Delta tables: every
table version is a new directory, and one manifest names the live
version and the schema of every table, so a batch stages all its
tables at once, each on its own thread, commits them with one manifest
replace, and a read plans without opening a data file.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import concurrently

MANIFEST = "_warehouse.json"


def write_quarantine(bad_rows: DataFrame, out_dir: str, run_id: int) -> str:
    """Write quarantine rows as JSONL under ingest_run_<id>/ (the
    reference appends to a single file; a distributed writer writes a
    directory of part files with identical line shape).  Overwrite: a
    retry of the same run replaces what a failed attempt left."""
    path = str(Path(out_dir) / f"ingest_run_{run_id}")
    bad_rows.select(F.to_json(F.struct("*")).alias("value")).write.mode(
        "overwrite"
    ).text(path)
    return path


class ParquetStore:
    """Multi-table parquet warehouse with one atomic commit.

    A write stages each table into a new directory ``<table>/v<N>/``
    (N is the warehouse version it commits) and never touches live
    files, so a plan that reads a table's current version can build
    its next one.  The commit point is one ``os.replace`` of
    ``_warehouse.json`` = ``{"version": N, "run_id": R, "tables":
    {table: "<table>/v<M>"}, "schemas": {table: <StructType JSON>}}``;
    ``run_id`` is the last committed ingest run.  A write that fails
    before the replace leaves the previous warehouse whole, the
    Delta-log idea applied across tables.  ``write_all`` stages its
    tables concurrently, one thread per table under the caller's job
    group, and commits only once every stage has returned; nothing
    needs the stages in order, because nothing is live until the
    replace.  Reads resolve through the
    manifest and take each table's schema from it, as Delta readers
    take theirs from the log, so a read runs no schema-inference job.
    After a commit, every version directory the manifest does not name
    is deleted.  Opened with ``spark=None``, a store serves its
    manifest (``exists``, ``version``, ``manifest``) but cannot read or
    write a table.
    """

    def __init__(self, spark: SparkSession | None, root: str):
        self.spark = spark
        self.root = Path(root)
        manifest = self.root / MANIFEST
        if manifest.exists():
            m = self.manifest = json.loads(manifest.read_text())
            if bare := sorted(m["tables"].keys() - m.setdefault("schemas", {}).keys()):
                raise ValueError(
                    f"{manifest} names tables {bare} but no schemas: it was "
                    "written by a store without schemas; ingest into a new --store"
                )
        elif old := sorted({p.parent.name for p in self.root.glob("*/*.parquet")}):
            raise ValueError(
                f"{self.root} holds tables {old} but no {MANIFEST}: it was "
                "written by a store without a manifest; ingest into a new --store"
            )
        else:
            self.manifest = {"version": 0, "run_id": 0, "tables": {}, "schemas": {}}

    @property
    def version(self) -> int:
        return self.manifest["version"]

    @property
    def run_id(self) -> int:
        return self.manifest["run_id"]

    def exists(self, table: str) -> bool:
        return table in self.manifest["tables"]

    def read(self, table: str) -> DataFrame:
        schema = StructType.fromJson(self.manifest["schemas"][table])
        return self.spark.read.schema(schema).parquet(str(self.root / self.manifest["tables"][table]))

    def _stage(self, table: str, df: DataFrame) -> Path:
        # overwrite: a failed earlier write may have left this directory
        stage = self.root / table / f"v{self.version + 1}"
        df.write.mode("overwrite").parquet(str(stage))
        return stage

    def write(self, table: str, df: DataFrame) -> None:
        """Commit ``df`` as ``table``; every other table is unchanged."""
        self._commit({table: (self._stage(table, df), df.schema)}, self.run_id)

    def write_all(self, tables: dict[str, DataFrame], run_id: int | None = None) -> None:
        """Stage every table at once, then commit them all with one
        manifest replace.  A failed stage raises once every other stage
        has ended, and commits nothing.  ``run_id`` becomes the
        warehouse's last ingest run (None keeps the current one)."""
        paths = concurrently(self.spark, [partial(self._stage, n, df) for n, df in tables.items()])
        staged = {n: (path, df.schema) for (n, df), path in zip(tables.items(), paths)}
        self._commit(staged, self.run_id if run_id is None else run_id)

    def _commit(self, staged: dict[str, tuple[Path, StructType]], run_id: int) -> None:
        tables, schemas = dict(self.manifest["tables"]), dict(self.manifest["schemas"])
        for n, (path, schema) in staged.items():
            tables[n] = path.relative_to(self.root).as_posix()
            schemas[n] = schema.jsonValue()
        manifest = {"version": self.version + 1, "run_id": run_id, "tables": tables, "schemas": schemas}
        self.root.mkdir(parents=True, exist_ok=True)
        tmp = self.root / f"{MANIFEST}.tmp"
        tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
        os.replace(tmp, self.root / MANIFEST)
        self.manifest = manifest
        live = set(tables.values())
        for d in self.root.glob("*/v*"):
            if d.name[1:].isdigit() and d.relative_to(self.root).as_posix() not in live:
                shutil.rmtree(d)
