"""In-memory span tracer and the wrappers that place spans at the
pipeline's layer boundaries.

Spans are recorded from the benchmark's side only: ``instrument``
replaces public functions of the program's modules with wrappers for
the life of one run, and ``DataFrame`` actions / writer saves become
``spark.execute`` child spans so lazily built plans show where they
run.  Each span sets its own Spark job group, and at span end the
status tracker gives the jobs, stages and tasks that ran under it: the
listener bus that fills the status store is drained first, then the
counts are read at once, before status retention drops old jobs.

A span records name, id, parent id, trace id, thread, start and end.
Spans of one HTTP request share the trace id the client sends in the
``X-Trace-Id`` header.  Self time is the span's duration minus the part
of it its children cover.  The tracer's own bookkeeping time is
measured per span and reported as the tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    name: str
    thread: int
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; one per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self._bus = sc._jsc.sc().listenerBus()
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def start(self, name: str, trace: str | None = None) -> Span:
        t0 = time.perf_counter()
        cur = self.current()
        span = Span(
            id=next(self._ids),
            parent=cur.id if cur else None,
            trace=trace or (cur.trace if cur else "run"),
            name=name,
            thread=threading.get_ident(),
            start=0.0,
        )
        self._stack().append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pbspan-{span.id}")
        t1 = time.perf_counter()
        span.start = t1
        with self._lock:
            self.overhead_s += t1 - t0
        return span

    def finish(self, span: Span, end: float | None = None) -> None:
        t0 = time.perf_counter()
        span.end = end if end is not None else t0
        self._bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        for job in st.getJobIdsForGroup(f"pbspan-{span.id}"):
            info = st.getJobInfo(job)
            if info is None:
                continue
            span.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    span.stages += 1
                    span.tasks += stage.numCompletedTasks
        stack = self._stack()
        stack.pop()
        parent = stack[-1] if stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"pbspan-{parent.id}" if parent else None
        )
        with self._lock:
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t0

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished root span timed by the caller (used for the
        session build, which runs before the tracer can exist)."""
        with self._lock:
            self.spans.append(Span(id=next(self._ids), parent=None, trace="run",
                                   name=name, thread=threading.get_ident(),
                                   start=start, end=end))

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` traced as span ``name``; ``on_result(span, result,
        args)`` may add attributes from the call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.start(name)
            end = None
            try:
                out = fn(*args, **kwargs)
                end = time.perf_counter()
                if on_result is not None:
                    on_result(span, out, args)
                return out
            finally:
                # attribute probes run after `end`: they count as
                # tracing overhead, not as the span's time
                if end is not None:
                    with self._lock:
                        self.overhead_s += time.perf_counter() - end
                self.finish(span, end)

        traced.__wrapped_original__ = fn
        return traced

    def write(self, path: Path) -> None:
        """Dump every span as one JSON line (written at the end of the
        run only)."""
        import json

        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


# -- instrumentation ------------------------------------------------------


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in Path(path).rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return len(files), sum(p.stat().st_size for p in files)


def instrument(tracer: Tracer, spark) -> list:
    """Wrap the layer boundaries; returns (owner, attr, original)
    triples for ``restore``."""
    from legal_data_ingestion_rag_pipeline_spark import api, cli, session
    from legal_data_ingestion_rag_pipeline_spark.plans import ingest, quality_report, queries, rag
    from legal_data_ingestion_rag_pipeline_spark.sources import readers, sinks

    patched: list = []

    def patch(owner, attr, name, on_result=None):
        orig = getattr(owner, attr)
        setattr(owner, attr, tracer.wrap(name, orig, on_result))
        patched.append((owner, attr, orig))

    def partitions(span, df, _args):
        span.attrs["partitions"] = df.rdd.getNumPartitions()

    def staged(span, path, _args):
        span.attrs["files"], span.attrs["bytes"] = _dir_stats(path)

    patch(session, "build_session", "session.build_session")
    patch(cli, "cmd_ingest", "cli.cmd_ingest")
    patch(cli, "cmd_quality", "cli.cmd_quality")
    orig_rag = cli.cmd_rag

    @functools.wraps(orig_rag)
    def cmd_rag(spark, args):
        return tracer.wrap(f"cli.cmd_rag_{args.rag_cmd}", orig_rag)(spark, args)

    cli.cmd_rag = cmd_rag
    patched.append((cli, "cmd_rag", orig_rag))
    patch(readers, "read_raw_dockets", "sources.read_raw_dockets", partitions)
    patch(sinks.ParquetStore, "write_all", "sources.ParquetStore.write_all")
    orig_write = sinks.ParquetStore.write

    def store_write(self, table, df):
        return tracer.wrap(f"sources.ParquetStore.write.{table}", orig_write)(self, table, df)

    sinks.ParquetStore.write = store_write
    patched.append((sinks.ParquetStore, "write", orig_write))
    patch(sinks.ParquetStore, "_stage", "sources.ParquetStore.stage", staged)
    patch(sinks, "write_quarantine", "sources.write_quarantine", staged)
    patch(ingest, "ingest_batch", "plans.ingest.ingest_batch")
    patch(rag, "backfill_chunk_embeddings", "plans.rag.backfill")
    patch(rag, "search_dockets", "plans.rag.search_dockets")
    patch(api, "search_dockets", "plans.rag.search_dockets")
    patch(quality_report, "report", "plans.quality_report.report")
    for fn in ("list_cases", "get_case", "case_parties_of"):
        patch(queries, fn, f"plans.queries.{fn}")
    patch(api, "context_from_store", "api.context_from_store")
    for method, op in (("_list_cases", "list_cases"), ("_get_case", "get_case"), ("_search", "search")):
        orig = getattr(api._Handler, method)

        def handler(self, *args, _orig=orig, _op=op):
            span = tracer.start(f"api.request.{_op}", trace=self.headers.get("X-Trace-Id"))
            try:
                return _orig(self, *args)
            finally:
                tracer.finish(span)

        setattr(api._Handler, method, handler)
        patched.append((api._Handler, method, orig))
    # the session's concrete DataFrame / writer classes (the public
    # names are abstract parents whose methods the classes override)
    probe = spark.range(1)
    for owner, attrs in ((type(probe), ("collect", "count", "localCheckpoint")),
                         (type(probe.write), ("parquet", "text"))):
        for attr in attrs:
            patch(owner, attr, "spark.execute")
    return patched


def restore(patched: list) -> None:
    for owner, attr, orig in reversed(patched):
        setattr(owner, attr, orig)


# -- per-layer metrics ----------------------------------------------------

REQUEST_OPS = ("list_cases", "get_case", "search")


def _self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for k in sorted(kids.get(s.id, ()), key=lambda k: k.start):
            lo, hi = max(k.start, cursor), min(k.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, input_bytes: int, client_ms: dict[str, float],
                  run_wall_s: float, backfill_chunks: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the run's spans.  Batch-path ``.s``
    values are run totals of self time; request-path ``.s`` values are
    medians per call; job and task counts include child spans."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    self_s = _self_times(spans)
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def inclusive(s: Span, attr: str) -> int:
        return getattr(s, attr) + sum(inclusive(k, attr) for k in kids.get(s.id, ()))

    def named(name):
        return [s for s in spans if s.name == name]

    def total_self(name):
        return sum(self_s[s.id] for s in named(name))

    def total_incl(name, attr):
        return sum(inclusive(s, attr) for s in named(name))

    def layer_ancestor(s: Span) -> Span | None:
        p = by_id.get(s.parent) if s.parent else None
        while p is not None and p.name == "spark.execute":
            p = by_id.get(p.parent) if p.parent else None
        return p

    def request_of(s: Span) -> Span | None:
        p = s
        while p is not None and not p.name.startswith("api.request."):
            p = by_id.get(p.parent) if p.parent else None
        return p

    m: dict[str, tuple[float, str]] = {}
    m["session.build_session.s"] = (total_self("session.build_session"), "s")
    parts = [s.attrs.get("partitions", 0) for s in named("sources.read_raw_dockets")]
    m["sources.read_raw_dockets.partitions"] = (max(parts, default=0), "count")
    m["sources.ParquetStore.write_all.s"] = (total_self("sources.ParquetStore.write_all"), "s")
    m["sources.ParquetStore.write_all.jobs"] = (total_incl("sources.ParquetStore.write_all", "jobs"), "count")
    m["sources.ParquetStore.write_all.tasks"] = (total_incl("sources.ParquetStore.write_all", "tasks"), "count")
    write_exec = [s for s in named("spark.execute")
                  if (a := layer_ancestor(s)) is not None and a.name == "sources.ParquetStore.stage"]
    m["spark.execute.store_write.s"] = (sum(s.end - s.start for s in write_exec), "s")
    m["sources.write_quarantine.s"] = (total_self("sources.write_quarantine"), "s")
    written = named("sources.ParquetStore.stage") + named("sources.write_quarantine")
    m["sources.files_written"] = (sum(s.attrs.get("files", 0) for s in written), "count")
    out_bytes = sum(s.attrs.get("bytes", 0) for s in written)
    m["sources.bytes_written_per_input_byte"] = (out_bytes / input_bytes if input_bytes else 0.0, "ratio")
    for name in ("plans.ingest.ingest_batch", "cli.cmd_ingest", "cli.cmd_rag_backfill", "cli.cmd_quality"):
        m[f"{name}.s"] = (total_self(name), "s")
        m[f"{name}.jobs"] = (total_incl(name, "jobs"), "count")
    for name in ("plans.ingest.ingest_batch", "cli.cmd_rag_backfill"):
        m[f"{name}.tasks"] = (total_incl(name, "tasks"), "count")
    m["plans.rag.backfill.s"] = (total_self("plans.rag.backfill"), "s")
    m["plans.rag.backfill.chunks"] = (backfill_chunks, "count")
    m["sources.ParquetStore.write.case_chunk_embeddings.s"] = (
        sum(s.end - s.start for s in named("sources.ParquetStore.write.case_chunk_embeddings")), "s")
    m["plans.quality_report.report.s"] = (total_self("plans.quality_report.report"), "s")
    m["api.context_from_store.s"] = (_med(self_s[s.id] for s in named("api.context_from_store")), "s")

    # request path: per-request medians / means, grouped by the
    # api.request span each span ran under
    per_req: dict[int, dict] = {}
    for s in spans:
        req = request_of(s)
        if req is None:
            continue
        r = per_req.setdefault(req.id, {"op": req.name.split(".")[-1], "exec": 0.0,
                                        "jobs": 0, "tasks": 0, "server_ms": 0.0,
                                        "trace": req.trace})
        r["jobs"] += s.jobs
        r["tasks"] += s.tasks
        if s is req:
            r["server_ms"] = (s.end - s.start) * 1000
        elif s.name == "spark.execute" and by_id[s.parent].name != "spark.execute":
            r["exec"] += s.end - s.start
    for op in REQUEST_OPS:
        reqs = [r for r in per_req.values() if r["op"] == op]
        n = len(reqs) or 1
        m[f"api.request.{op}.server_ms"] = (_med(r["server_ms"] for r in reqs), "ms")
        m[f"spark.execute.{op}.s"] = (_med(r["exec"] for r in reqs), "s")
        m[f"{op}.jobs_per_request"] = (sum(r["jobs"] for r in reqs) / n, "count")
        m[f"{op}.tasks_per_request"] = (sum(r["tasks"] for r in reqs) / n, "count")
    m["plans.rag.search_dockets.s"] = (_med(self_s[s.id] for s in named("plans.rag.search_dockets")
                                            if request_of(s) is not None), "s")
    for fn in ("list_cases", "get_case", "case_parties_of"):
        m[f"plans.queries.{fn}.s"] = (_med(self_s[s.id] for s in named(f"plans.queries.{fn}")), "s")
    gaps = [client_ms[r["trace"]] - r["server_ms"] for r in per_req.values() if r["trace"] in client_ms]
    m["api.http_overhead_ms"] = (_med(gaps), "ms")
    m["trace.spans"] = (len(spans), "count")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    m["trace.overhead_frac"] = (tracer.overhead_s / run_wall_s if run_wall_s else 0.0, "ratio")
    return m
