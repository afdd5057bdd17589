"""A minimal transaction-log table format: versioned appends /
overwrites with time-travel reads — the lakehouse pattern (Delta /
Iceberg's core insight) reduced to its essentials on plain parquet.

Why this exists at 100 TB: a directory of parquet files has no
transactional story — readers list the directory (an O(files) storage
round-trip that is slow and non-atomic on object stores) and see
half-written data.  The fix every table format shares: writers commit
by appending ONE manifest record naming the exact data files of the
new version; readers resolve a version to a file list from the
manifest (KB-scale, one read) and hand Spark that explicit list — no
LIST call, no torn reads, and every historical version remains
readable (time travel) until explicitly vacuumed.

This implementation keeps the contract honest without pretending to
be Delta:

- the manifest is a JSON-lines file (``_tlog.jsonl``); each line is
  one committed version: ``{"version": N, "action": "append" |
  "overwrite", "files": [...]}``.  Appends ADD files to the live set;
  an overwrite REPLACES it.  The live set at version V is replayed by
  scanning the manifest up to V — manifest replay is the reader-side
  protocol of Delta (its JSON actions) in miniature.
- data files land under ``data/`` with a version-prefixed, caller-
  supplied unique name, so concurrent versions never collide and an
  uncommitted write (files present, no manifest line) is simply
  invisible — atomicity rides on the manifest append.
- retention is explicit: :func:`vacuum` deletes files referenced only
  by pre-retention versions and compacts the log so replay cost stops
  growing with table age.  No schema evolution here — Spark's own
  mergeSchema covers the read-side evolution story
  (schema_evolution_scan).

Single-writer by design (the driver is the committer); multi-writer
coordination (optimistic concurrency on the log) is a metadata-layer
concern orthogonal to the Spark plans.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

_MANIFEST = "_tlog.jsonl"


def _manifest_path(path: str) -> str:
    return os.path.join(path, _MANIFEST)


def _read_manifest(path: str) -> list[dict]:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return []
    with open(mp, "r", encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def current_version(path: str) -> int:
    """Latest committed version, or -1 for an empty/absent table."""
    entries = _read_manifest(path)
    return entries[-1]["version"] if entries else -1


def commit(
    df: DataFrame,
    path: str,
    action: str = "append",
    stats_col: str | None = None,
    epoch: int | None = None,
) -> int:
    """Write ``df`` as a new version of the table at ``path``.

    ``action='append'`` adds the written files to the live set;
    ``action='overwrite'`` makes them the entire live set.  Returns
    the committed version number.  The data write happens BEFORE the
    manifest append — a crash in between leaves orphan files that no
    reader resolves, never a torn table.

    ``stats_col``: record per-file [min, max] of this column in the
    manifest (read once from each written file's parquet footer —
    metadata-only, no data scan), enabling manifest-level file
    skipping in :func:`read_version` — the Iceberg manifest-stats
    half of the format, beside Delta-style log replay.

    ``epoch``: idempotence token for streaming writers.  If the log
    already holds a commit with this epoch, the call is a no-op
    returning that version — a retried foreachBatch epoch never
    double-appends, which is the exactly-once contract micro-batch
    sinks need.
    """
    if action not in ("append", "overwrite"):
        raise ValueError(f"unknown action {action!r}")
    entries = _read_manifest(path)
    if epoch is not None:
        for e in entries:
            if e.get("epoch") == epoch:
                return e["version"]
    version = (entries[-1]["version"] if entries else -1) + 1
    vdir = os.path.join(path, "data", f"v{version:06d}")
    # a crash between the data write and the manifest append leaves
    # this directory populated but unreferenced (no reader resolves
    # it); the next commit recomputes the same version number, so an
    # existing v{N} directory here is by definition such an orphan —
    # clear it instead of failing on mode('error').  Safe because the
    # table is single-writer (module contract above).
    if os.path.exists(vdir):
        shutil.rmtree(vdir)
    df.write.mode("error").parquet(vdir)
    files = sorted(
        os.path.join(vdir, f)
        for f in os.listdir(vdir)
        if f.endswith(".parquet")
    )
    record: dict = {"version": version, "action": action, "files": files}
    # Schema travels in the manifest (Delta's metaData action): readers
    # apply it via spark.read.schema(...) and never pay the
    # footer-sampling inference job a bare spark.read.parquet runs —
    # at 100 TB that job is a per-read driver round-trip plus an
    # object-store GET per sampled footer; locally it was measured as
    # one extra Spark job per read_version call (ingest_timetravel
    # alone pays ~15 of them).  Parity note: inference marks every
    # field nullable, so the stored schema is nullablized on READ
    # (see read_version) — plans and results stay bit-identical.
    record["schema"] = df.schema.json()
    if epoch is not None:
        record["epoch"] = epoch
    if stats_col is not None:
        import pyarrow.parquet as pq

        stats = {}
        for fp in files:
            md = pq.read_metadata(fp)
            names = md.schema.names
            ci = names.index(stats_col)
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                stats[fp] = [lo, hi]
        record["stats_col"] = stats_col
        record["stats"] = stats
    os.makedirs(path, exist_ok=True)
    with open(_manifest_path(path), "a", encoding="utf-8") as f:
        f.write(json.dumps(record) + "\n")
    return version


def live_files(
    path: str, version: int | None = None, with_stats: bool = False
):
    """Replay the manifest up to ``version`` (default: latest) and
    return the live data-file list (optionally with each file's
    recorded [min, max] stats, None when absent)."""
    entries = _read_manifest(path)
    if not entries:
        return []
    if version is None:
        version = entries[-1]["version"]
    live: list[str] = []
    stats: dict[str, list] = {}
    seen = False
    for e in entries:
        if e["version"] > version:
            break
        seen = seen or e["version"] == version
        if e["action"] not in ("append", "overwrite"):
            continue  # metadata-only entries (bloom index) carry no files
        if e["action"] == "overwrite":
            live = list(e["files"])
            stats = dict(e.get("stats", {}))
        else:
            live.extend(e["files"])
            stats.update(e.get("stats", {}))
    if not seen:
        committed = [e["version"] for e in entries]
        raise ValueError(
            f"version {version} was never committed (log has {committed})"
        )
    if with_stats:
        return [(f, stats.get(f)) for f in live]
    return live


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """Time-travel read: the table exactly as of ``version``.

    The scan receives the EXPLICIT file list resolved from the
    manifest — no directory listing, so uncommitted/orphan files are
    invisible and the plan's FileScan enumerates only live files.

    ``prune=(lo, hi)``: manifest-level file skipping — drop every
    file whose committed [min, max] range on the table's stats_col
    does not intersect [lo, hi], BEFORE Spark ever sees the file
    list.  Files committed without stats are conservatively kept.
    This is pruning from ONE KB-scale manifest read; parquet footer
    stats then prune row groups within the surviving files as usual
    (two independent skipping layers, the Iceberg + parquet stack).
    The caller still applies the row-level filter: pruning is a
    superset guarantee, not a predicate.
    """
    if prune is None:
        files = live_files(path, version)
    else:
        lo, hi = prune
        files = [
            f
            for f, st in live_files(path, version, with_stats=True)
            if st is None or not (st[1] < lo or st[0] > hi)
        ]
    if not files:
        raise ValueError(
            f"tlog table at {path} has no files"
            + (" in the pruned range" if prune is not None else "")
        )
    schema = _live_schema(path, version)
    if schema is not None:
        return spark.read.schema(schema).parquet(*files)
    return spark.read.parquet(*files)


def _live_schema(path: str, version: int | None):
    """The manifest-recorded schema in effect at ``version`` —
    nullablized to match what parquet footer inference would return
    (inference marks every field nullable), so reads through the
    manifest schema are plan- and result-identical to inferred reads,
    minus the inference job.  None when any live-set entry predates
    schema recording (pre-upgrade manifests fall back to inference)."""
    from pyspark.sql.types import StructType

    entries = _read_manifest(path)
    if version is None and entries:
        version = entries[-1]["version"]
    live_schemas: list | None = []
    for e in entries:
        if e["version"] > version:
            break
        if e["action"] not in ("append", "overwrite"):
            continue
        if e["action"] == "overwrite":
            live_schemas = []  # overwrite replaces the live set entirely
        if live_schemas is None:
            continue
        if "schema" in e:
            live_schemas.append(e["schema"])
        else:
            live_schemas = None  # pre-upgrade entry in the live set
    # every live entry must carry the SAME schema — mixed-schema
    # appends (mergeSchema territory) keep the inference path
    if not live_schemas or len(set(live_schemas)) != 1:
        return None
    return _nullablize(StructType.fromJson(json.loads(live_schemas[0])))


def _nullablize(dt):
    """Recursively mark every field/element nullable (parquet
    inference's convention)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullablize(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullablize(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullablize(dt.keyType), _nullablize(dt.valueType), True)
    return dt


def vacuum(path: str, keep_from_version: int) -> list[str]:
    """Retention: delete data files referenced ONLY by versions older
    than ``keep_from_version``, and truncate their history from the
    log.  Time travel keeps working for every version >=
    ``keep_from_version``; older versions become unreadable — the
    explicit, irreversible trade every retention policy makes.

    Rewrites the manifest so the oldest kept version becomes a
    self-contained ``overwrite`` of its live set (log compaction —
    replay cost stops growing with table age), appending-writer
    protocol preserved: the new manifest is written to a temp file
    and atomically renamed over the old one.  Returns the deleted
    file paths.
    """
    entries = _read_manifest(path)
    if not entries:
        return []
    latest = entries[-1]["version"]
    if not 0 <= keep_from_version <= latest:
        raise ValueError(
            f"keep_from_version {keep_from_version} outside 0..{latest}"
        )
    keep_sets: set[str] = set()
    rewritten: list[dict] = []
    for e in entries:
        if e["version"] < keep_from_version:
            continue
        if e["action"] not in ("append", "overwrite"):
            rewritten.append(e)  # metadata-only entries pass through
            continue
        if e["version"] == keep_from_version:
            base = live_files(path, keep_from_version, with_stats=True)
            rec = {
                "version": keep_from_version,
                "action": "overwrite",
                "files": [f for f, _ in base],
            }
            stats = {f: st for f, st in base if st is not None}
            if stats:
                rec["stats"] = stats
                sc = next(
                    (x.get("stats_col") for x in entries if x.get("stats_col")),
                    None,
                )
                if sc:
                    rec["stats_col"] = sc
            if "epoch" in e:
                rec["epoch"] = e["epoch"]
            # carry the schema into the compacted base so post-vacuum
            # reads keep the inference-free path; same rule as reads
            # (every live entry present and agreeing), via _live_schema
            # on the PRE-compaction manifest
            base_schema = _live_schema(path, keep_from_version)
            if base_schema is not None:
                rec["schema"] = next(
                    x["schema"]
                    for x in reversed(entries)
                    if x["version"] <= keep_from_version and "schema" in x
                )
            rewritten.append(rec)
        else:
            rewritten.append(e)
    for v in range(keep_from_version, latest + 1):
        keep_sets.update(live_files(path, v))
    all_files = {
        f
        for e in entries
        if e["action"] in ("append", "overwrite")
        for f in e["files"]
    }
    doomed = sorted(all_files - keep_sets)
    for f in doomed:
        if os.path.exists(f):
            os.remove(f)
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        for rec in rewritten:
            fh.write(json.dumps(rec) + "\n")
    os.replace(tmp, _manifest_path(path))
    return doomed


# ---------------------------------------------------------------------------
# Per-file Bloom index (the Delta "bloom filter index" pattern): point
# lookups on a column whose values INTERLEAVE across files — where
# [min, max] range stats prune nothing — drop files whose bloom says
# "definitely absent".  False positives only ADD files (the read stays
# a superset; the row filter still applies), so correctness never
# depends on the index.  The words use the SAME portable polynomial
# hash + position formula as operators/sketches.bloom_build (bit-exact
# Python twin below, pinned by tests), computed file-locally from the
# written parquet — no extra Spark job, no shuffle.
# ---------------------------------------------------------------------------

BLOOM_BITS_PER_WORD = 63


def _py_poly_hash(s: str) -> int:
    """Bit-exact Python twin of functions/portable.poly_hash."""
    from ..functions import portable as PT

    acc = PT.POLY_INIT
    for ch in s:
        acc = (acc * PT.POLY_MULT + ord(ch)) % PT.P
    return acc


def _py_bloom_words(values, k: int, m_words: int) -> list[int]:
    """Bit-exact Python twin of sketches.bloom_build over string
    values (same constants, same position formula)."""
    from ..functions import portable as PT

    m = m_words * BLOOM_BITS_PER_WORD
    consts = PT._perm_constants(k)[:k]
    words = [0] * m_words
    for v in values:
        if v is None:
            continue
        h = _py_poly_hash(str(v))
        for a, b in consts:
            pos = ((h * a + b) % PT.P) % m
            words[pos // BLOOM_BITS_PER_WORD] |= 1 << (
                pos % BLOOM_BITS_PER_WORD
            )
    return words


def attach_bloom_index(
    path: str, col: str, k: int = 4, m_words: int = 16
) -> None:
    """Record a per-file Bloom index over ``col`` for every live file
    of the LATEST version that does not already carry one: one
    manifest line ``{"action": "bloom", ...}`` mapping file ->
    63-bit words.  Reads only the indexed column of each file
    (columnar projection), writes no data files — a metadata-only
    commit, appendable after the fact like any other index build.
    """
    import pyarrow.parquet as pq

    entries = _read_manifest(path)
    if not entries:
        raise ValueError(f"no tlog table at {path}")
    indexed: dict[str, dict] = {}
    for e in entries:
        if e.get("action") == "bloom" and e.get("bloom_col") == col:
            indexed.update(e.get("blooms", {}))
    blooms = {}
    for f in live_files(path):
        if f in indexed:
            continue
        vals = pq.read_table(f, columns=[col]).column(0).to_pylist()
        blooms[f] = _py_bloom_words(vals, k, m_words)
    if not blooms:
        return
    with open(_manifest_path(path), "a", encoding="utf-8") as fh:
        fh.write(
            json.dumps(
                {
                    "version": entries[-1]["version"],
                    "action": "bloom",
                    "bloom_col": col,
                    "k": k,
                    "m_words": m_words,
                    "blooms": blooms,
                }
            )
            + "\n"
        )


def read_point_lookup(
    spark: SparkSession, path: str, col: str, value
) -> DataFrame:
    """Point-lookup read: scan only the live files whose Bloom index
    might contain ``value`` (files without an index are
    conservatively kept), with the exact row filter applied on top —
    the index is an access-path optimization, never a semantics
    change."""
    from ..functions import portable as PT

    entries = _read_manifest(path)
    blooms: dict[str, list] = {}
    params = None
    for e in entries:
        if e.get("action") == "bloom" and e.get("bloom_col") == col:
            blooms.update(e.get("blooms", {}))
            params = (e["k"], e["m_words"])
    live = live_files(path)
    if params is None:
        files = live
    else:
        k, m_words = params
        m = m_words * BLOOM_BITS_PER_WORD
        consts = PT._perm_constants(k)[:k]
        h = _py_poly_hash(str(value))

        def might_contain(words: list) -> bool:
            for a, b in consts:
                pos = ((h * a + b) % PT.P) % m
                if not words[pos // BLOOM_BITS_PER_WORD] & (
                    1 << (pos % BLOOM_BITS_PER_WORD)
                ):
                    return False
            return True

        files = [
            f for f in live if f not in blooms or might_contain(blooms[f])
        ]
    if not files:
        return (
            spark.read.parquet(*live)
            .filter(F.lit(False))
            .filter(F.col(col) == value)
        )
    return spark.read.parquet(*files).filter(F.col(col) == value)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    stats_col: str | None = None,
) -> int:
    """OPTIMIZE: rewrite the current live set into ``target_files``
    files committed as a new overwrite version — content-identical,
    small-file count reset.  History is untouched (pre-compaction
    versions still time-travel; vacuum reclaims them later); readers
    that resolved the old version keep working because its files are
    still referenced by the log.  Re-attach Bloom indexes after
    compaction — the new files start unindexed (conservatively read).
    """
    df = read_version(spark, path).coalesce(target_files)
    return commit(df, path, "overwrite", stats_col=stats_col)


class TlogStore:
    """The ParquetStore interface backed by the transaction-log table
    format (this module) — every write is a tlog commit, so the
    whole ingest warehouse gains time travel, vacuum, and manifest-
    resolved reads for free (the reference's audit-trail story,
    schema.sql:179-205, met by format-level history instead of
    trigger tables).

    A tlog commit writes data files to a NEW version directory while
    any in-flight lazy plan keeps reading the previous version's files
    (never deleted by a commit — only by vacuum), and the manifest
    append is the atomic switch.  The parquet self-overwrite trap
    therefore cannot occur, and write_all needs no two-phase staging:
    tables commit sequentially, each plan still resolving the file
    lists it was built against.  Each table commits on its own, so a
    multi-table write_all is not atomic across tables (the docket
    warehouse is sources.sinks.ParquetStore, which is).

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
        return current_version(str(self.path(table))) >= 0

    def current_version(self, table: str) -> int:
        return current_version(str(self.path(table)))

    def read(self, table: str, version: int | None = None) -> DataFrame:
        return read_version(self.spark, str(self.path(table)), version)

    def write(self, table: str, df: DataFrame) -> int:
        """MERGE-result persistence: commit ``df`` as a new overwrite
        version (the post-merge state IS the table)."""
        return commit(
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
        if table not in self.stats_cols:
            return None
        pairs = live_files(
            str(self.path(table)), version, with_stats=True
        )
        if not pairs or any(st is None for _, st in pairs):
            return None
        return max(st[1] for _, st in pairs)

    def append(self, table: str, df: DataFrame) -> int:
        """Log-shaped tables (errors, runs, quarantine mirrors):
        commit only the new rows; history replay unions them."""
        return commit(df, str(self.path(table)), "append")

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
        return vacuum(str(self.path(table)), keep_from_version)
