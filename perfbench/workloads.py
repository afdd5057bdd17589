"""The benchmark's workloads, driven through the program's user-facing
entry points (``cli.main`` and the HTTP server of ``api``), with every
output checked against the generator's model.

Each workload fills a ``Run``: its timings and counts, and the numbers
of operations attempted and failed (a failed operation raised, returned
the wrong status, or returned output that disagrees with the model).
"""

from __future__ import annotations

import contextlib
import http.client
import io
import json
import random
import statistics
import sys
import threading
import time
import traceback
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import quote

from gen import DocketGen, first_chunk, norm_court, norm_judge

LIST_LIMIT = 200
NIGHTLY_FULL, NIGHTLY_DELTA = 3000, 600  # records per batch
NIGHTLY_ROUNDS = 2  # serving-context loads after the night's batches
API_BASE, API_CLIENTS, API_ROUNDS = 3000, 2, 2
API_WARMUP_S = 8.0  # untimed closed-loop serving before the timed window
SEARCH_WORDS = ("breach contract", "motion to dismiss", "patent infringement",
                "employment discrimination", "securities fraud", "insurance coverage",
                "summary judgment", "bankruptcy trustee", "jury verdict", "lease tenant")


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Run:
    """What one workload measured."""

    attempted: int = 0
    failed: int = 0
    timings: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    input_bytes: int = 0
    client_ms: dict[str, float] = field(default_factory=dict)  # trace id -> ms
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, key: str, value: float) -> None:
        with self.lock:
            self.timings.setdefault(key, []).append(value)

    def op(self, name: str, fn, *args):
        """Run one checked operation; returns (result, seconds) or
        (None, seconds) when it failed."""
        t0 = time.perf_counter()
        with self.lock:
            self.attempted += 1
        try:
            out = fn(*args)
            return out, time.perf_counter() - t0
        except Exception:  # a failed operation is counted, not fatal
            with self.lock:
                self.failed += 1
            print(f"[perfbench] {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None, time.perf_counter() - t0


# -- CLI --------------------------------------------------------------------


def cli_json(argv: list[str]) -> tuple[int, dict]:
    """Run ``cli.main(argv)``; returns its exit code and the JSON object
    on its last output line."""
    from legal_data_ingestion_rag_pipeline_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    lines = buf.getvalue().strip().splitlines()
    return rc, json.loads(lines[-1]) if lines else {}


def ingest(store: Path, path: Path, expected: dict, run_id: int) -> None:
    rc, out = cli_json(["ingest", "--file", str(path), "--store", str(store)])
    expect(rc == 0, f"ingest exit {rc}")
    want = {k: v for k, v in expected.items() if k != "codes"}
    expect(out.get("run_id") == run_id, f"run_id {out.get('run_id')} != {run_id}")
    expect(out.get("summary") == want, f"summary {out.get('summary')} != {want}")
    qdir = store / "quarantine" / f"ingest_run_{run_id}"
    lines = sum(p.read_text().count("\n") for p in qdir.glob("part-*"))
    expect(lines == expected["failed"], f"quarantine lines {lines} != {expected['failed']}")


def backfill(store: Path, total_chunks: int) -> None:
    rc, out = cli_json(["rag", "backfill", "--store", str(store)])
    expect(rc == 0, f"backfill exit {rc}")
    expect(out.get("chunks") == total_chunks, f"chunks {out.get('chunks')} != {total_chunks}")


def quality(store: Path, gen: DocketGen, n_runs: int, inserted: int) -> None:
    rc, out = cli_json(["quality", "--store", str(store)])
    t = gen.totals
    breakdown = {r["error_code"]: r["cnt"] for r in out["sections"]["error_breakdown"]}
    planted = {c: n for c, n in t["codes"].items() if n}
    expect(breakdown == planted, f"error_breakdown {breakdown} != {planted}")
    totals = out["sections"]["run_totals"][0]
    want = {"n_runs": n_runs, "total_read": t["read"], "total_inserted": inserted,
            "total_updated": t["read"] - t["failed"] - inserted, "total_failed": t["failed"]}
    expect(totals == want, f"run_totals {totals} != {want}")
    n_cases = len(gen.cases)
    comp = out["sections"]["completeness"][0]
    expect(comp["total_cases"] == n_cases, f"total_cases {comp['total_cases']} != {n_cases}")
    no_judge = sum(1 for c in gen.cases.values() if c.judge is None)
    expect(comp["missing_judge"] == no_judge, f"missing_judge {comp['missing_judge']} != {no_judge}")
    ok = t["failed"] * 100.0 / t["read"] <= 5.0 and no_judge * 100.0 / n_cases <= 10.0
    expect(out["ok"] == ok and rc == (0 if ok else 1), f"quality verdict {out['ok']} rc {rc}")


# -- HTTP ---------------------------------------------------------------------


class Server:
    """The program's HTTP server over a freshly loaded serving context,
    on a free local port, in a thread of this process."""

    def __init__(self, spark, store: Path):
        from legal_data_ingestion_rag_pipeline_spark import api

        self.ctx = api.context_from_store(spark, str(store))
        self.srv = api.make_server(self.ctx)
        self.port = self.srv.server_address[1]
        self.thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)
        for df in self.ctx.tables.values():
            df.unpersist()
        if self.ctx.embeddings is not None:
            self.ctx.embeddings.unpersist()


def request(port: int, method: str, path: str, body: dict | None, run: Run) -> tuple[int, object, float]:
    trace = uuid.uuid4().hex[:12]
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        t0 = time.perf_counter()
        conn.request(method, path, body=json.dumps(body) if body is not None else None,
                     headers={"X-Trace-Id": trace, "Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        ms = (time.perf_counter() - t0) * 1000
    finally:
        conn.close()
    with run.lock:
        run.client_ms[trace] = ms
    return resp.status, json.loads(data), ms


class Expect:
    """Answers the model gives for the requests a client sends."""

    def __init__(self, gen: DocketGen):
        self.cases = gen.cases
        self.by_judge: dict[str, list[tuple[str, str]]] = {}
        self.by_year: dict[int, list[tuple[str, str]]] = {}
        for key, c in gen.cases.items():
            if c.judge:
                self.by_judge.setdefault(c.judge, []).append((c.filed_date, key))
            self.by_year.setdefault(int(c.filed_date[:4]), []).append((c.filed_date, key))
        # self-retrieval probes need a first chunk long enough that no
        # other chunk has the same token-bucket vector
        self.probes = sorted(
            k for k, c in gen.cases.items()
            if c.embedded_text and len(first_chunk(c.embedded_text).split()) >= 60
        )
        self.probe_set = set(self.probes)

    @staticmethod
    def _order(rows):
        # filed_date descending, ties by case_number ascending (the
        # sort is stable, so the key order survives the date sort)
        rows = sorted(rows, key=lambda r: r[1])
        rows.sort(key=lambda r: r[0], reverse=True)
        return [k for _, k in rows]

    def list_cases(self, judge: str | None, year: int | None) -> list[str]:
        if judge is not None and year is not None:
            rows = [r for r in self.by_judge.get(judge, ()) if r[0].startswith(f"{year}-")]
        elif judge is not None:
            rows = self.by_judge.get(judge, [])
        else:
            rows = self.by_year.get(year, [])
        return self._order(rows)[:LIST_LIMIT]


def check_list(port, run, exp: Expect, judge, year) -> float:
    qs = "&".join(p for p in (judge and f"judge={quote(judge)}", year and f"year={year}") if p)
    status, rows, ms = request(port, "GET", f"/cases?{qs}", None, run)
    expect(status == 200, f"list status {status}")
    for r in rows:
        expect(judge is None or norm_judge(r["judge"] or "") == judge, f"judge filter {r}")
        expect(year is None or r["filed_date"].startswith(f"{year}-"), f"year filter {r}")
    dates = [r["filed_date"] for r in rows]
    expect(dates == sorted(dates, reverse=True), "list not ordered by filed_date desc")
    want = exp.list_cases(judge, year)
    expect([r["case_number"] for r in rows] == want, f"list rows for {qs}: {len(rows)} vs {len(want)}")
    return ms


def check_get(port, run, exp: Expect, key: str) -> float:
    status, d, ms = request(port, "GET", f"/cases/{quote(key, safe='')}", None, run)
    case = exp.cases.get(key)
    if case is None:
        expect(status == 404 and "error" in d, f"unknown key {key} gave {status}")
        return ms
    expect(status == 200, f"get {key} status {status}")
    expect(d["case_number"] == key, f"echo {d['case_number']} != {key}")
    expect((d["title"], d["status"], d["filed_date"], d["docket_text"])
           == (case.title, case.status, case.filed_date, case.text), f"fields of {key}")
    expect(norm_court(d["court"]) == case.court, f"court of {key}")
    expect((norm_judge(d["judge"]) if d["judge"] else None) == case.judge, f"judge of {key}")
    got = [(p["role"], p["name"]) for p in d["parties"]]
    expect(got == sorted(got), f"parties of {key} not ordered by (role, name)")
    pairs = {(p["normalized_name"], p["role"]) for p in d["parties"]}
    expect(pairs == case.parties and len(got) == len(pairs), f"parties of {key}")
    return ms


def check_search(port, run, exp: Expect, query: str, limit: int, probe: str | None) -> float:
    status, rows, ms = request(port, "POST", "/cases/search", {"query": query, "limit": limit}, run)
    expect(status == 200, f"search status {status}")
    expect(1 <= len(rows) <= limit, f"search returned {len(rows)} rows for limit {limit}")
    sims = [r["best_similarity"] for r in rows]
    expect(sims == sorted(sims, reverse=True), "search not ordered by similarity")
    expect(all(r["case_number"] in exp.cases for r in rows), "search returned an unknown case")
    if probe is not None:
        top = rows[0]
        expect(top["case_number"] == probe and top["best_chunk_id"] == 0,
               f"self-retrieval of {probe} ranked {top['case_number']}")
        expect(top["best_chunk_snippet"] == query[:280], f"snippet of {probe}")
    return ms


class Client:
    """Draws requests in blocks of five: two lists (judge only, year only
    or both; judges by a skewed rank sequence), two gets (Zipf-skewed
    keys, every 20th an unknown key that must 404) and one search (limits
    5 to 20, every third a self-retrieval probe), shuffled within the
    block.  Every run sends the same shapes in the same proportions; the
    seed picks the order inside each block (so closed-loop clients do not
    lock into one alignment of their searches) and the identities."""

    BLOCK = ("list_cases", "list_cases", "get_case", "get_case", "search")
    JUDGE_RANKS = (0, 1, 0, 2, 3, 0, 5, 1, 8, 13)
    LIMITS = (5, 10, 15, 20, 8, 12)

    def __init__(self, gen: DocketGen, exp: Expect, seed: int):
        self.rng = random.Random(seed)
        self.gen, self.exp = gen, exp
        keys = sorted(exp.cases)
        self.rng.shuffle(keys)
        self.keys = keys
        self.key_weights = [1.0 / (i + 1) ** 0.8 for i in range(len(keys))]
        self.n = dict.fromkeys(self.BLOCK, 0)
        self.block: list[str] = []

    def draw(self) -> tuple[str, tuple]:
        rng = self.rng
        if not self.block:
            self.block = list(self.BLOCK)
            rng.shuffle(self.block)
        op = self.block.pop()
        i = self.n[op]
        self.n[op] += 1
        if op == "list_cases":
            judge = self.gen.judges[self.JUDGE_RANKS[i % len(self.JUDGE_RANKS)]]
            year = rng.randint(2015, 2024)
            shape = i % 3
            return op, (judge if shape != 1 else None, year if shape != 0 else None)
        if op == "get_case":
            if i % 20 == 19:
                return op, (f"0:00-zz-{rng.getrandbits(30):09d}",)
            return op, (rng.choices(self.keys, self.key_weights)[0],)
        limit = self.LIMITS[i % len(self.LIMITS)]
        if self.exp.probes and i % 3 == 2:
            key = rng.choice(self.exp.probes)
            return op, (first_chunk(self.exp.cases[key].embedded_text), limit, key)
        return op, (f"{rng.choice(SEARCH_WORDS)} {rng.choice(SEARCH_WORDS)}", limit, None)


CHECKS = {"list_cases": check_list, "get_case": check_get, "search": check_search}


def send(port, run: Run, exp: Expect, op: str, args: tuple) -> None:
    ms, _ = run.op(op, CHECKS[op], port, run, exp, *args)
    if ms is not None:
        run.add(f"{op}_ms", ms)


# -- workloads ----------------------------------------------------------------


class Pipeline:
    """One warehouse driven through the CLI, with the model beside it."""

    def __init__(self, spark, work: Path, seed: int, run: Run):
        self.spark, self.work, self.run = spark, work, run
        self.store = work / "warehouse"
        self.gen = DocketGen(seed)
        self.n_batches = 0
        self.inserted = 0
        self.total_chunks = 0

    def ingest(self, n: int, overlap: float, timing: str) -> list[str]:
        batch = self.gen.batch(n, overlap=overlap)
        path = batch.write(self.work / f"batch_{self.n_batches:03d}.json")
        self.run.input_bytes += batch.input_bytes
        self.n_batches += 1
        self.inserted += batch.expected["inserted"]
        _, s = self.run.op("ingest", ingest, self.store, path, batch.expected, self.n_batches)
        self.run.add(timing, s)
        self.run.add("ingest_s", s)
        self.run.counts["ingest_records"] = self.run.counts.get("ingest_records", 0) + n
        return batch.new_keys

    def backfill(self) -> None:
        added = self.gen.mark_backfilled()
        self.total_chunks += added
        _, s = self.run.op("backfill", backfill, self.store, self.total_chunks)
        self.run.add("backfill_s", s)
        self.run.counts["backfill_chunks"] = self.run.counts.get("backfill_chunks", 0) + added

    def quality(self) -> None:
        _, s = self.run.op("quality", quality, self.store, self.gen, self.n_batches, self.inserted)
        self.run.add("quality_s", s)

    def serve(self) -> Server | None:
        srv, _ = self.run.op("context_from_store", Server, self.spark, self.store)
        return srv


def serve_round(p: Pipeline, exp: Expect, key: str, probe: str | None) -> Server | None:
    """Load a fresh serving context and send one checked request of each
    type (its caches fill here); the time until all three answered is
    one ``serving_ready_s`` sample, the benchmark's set-up time."""
    t0 = time.perf_counter()
    srv = p.serve()
    if srv is None:
        return None
    send(srv.port, p.run, exp, "list_cases", (p.gen.judges[0], None))
    send(srv.port, p.run, exp, "get_case", (key,))
    query = first_chunk(exp.cases[probe].embedded_text) if probe else SEARCH_WORDS[0]
    send(srv.port, p.run, exp, "search", (query, 10, probe))
    p.run.add("serving_ready_s", time.perf_counter() - t0)
    return srv


def nightly_ingest(spark, work: Path, seed: int, seconds: float, run: Run) -> None:
    """A fresh store takes one full batch (the JVM's first, cold
    ingest), then a smaller delta batch that rewrites about 20% known
    keys; then ``rag backfill`` and ``quality``.  The time from the first
    file to the quality verdict is the night's ``night_s``.  The serving
    context is then loaded NIGHTLY_ROUNDS times, and each load's first
    answers check that the delta's new cases are servable.  The batch
    job runs to completion; ``seconds`` does not bound it."""
    p = Pipeline(spark, work, seed, run)
    t_night = time.perf_counter()
    p.ingest(NIGHTLY_FULL, overlap=0.0, timing="first_ingest_s")
    t_delta = time.perf_counter()
    new_keys = p.ingest(NIGHTLY_DELTA, overlap=0.2, timing="delta_ingest_s")
    p.backfill()
    t_landed = time.perf_counter()
    p.quality()
    run.add("night_s", time.perf_counter() - t_night)
    exp = Expect(p.gen)
    rng = random.Random(seed ^ 0x5EED)
    fresh = [k for k in new_keys if k in exp.probe_set]
    key = rng.choice(new_keys)
    probe = rng.choice(fresh) if fresh else None
    t_serve = time.perf_counter()
    for i in range(NIGHTLY_ROUNDS):
        srv = serve_round(p, exp, key, probe)
        if srv is None:
            return
        if i == 0:
            send(srv.port, run, exp, "get_case", (p.gen.unknown_key(),))  # must 404
            # the delta's file to verified-servable (its new cases
            # answer), the quality gate excluded
            run.add("refresh_s", (t_landed - t_delta) + (time.perf_counter() - t_serve))
        srv.close()


def api_serving(spark, work: Path, seed: int, seconds: float, run: Run) -> None:
    """A base warehouse is ingested and backfilled, and the serving
    context is loaded API_ROUNDS times.  Then API_CLIENTS closed-loop
    clients with no think time send the request mix: API_WARMUP_S seconds
    untimed (the request rate climbs steeply over the first seconds of
    serving; answers are still checked), then ``seconds`` timed."""
    p = Pipeline(spark, work, seed, run)
    t0 = time.perf_counter()
    p.ingest(API_BASE, overlap=0.0, timing="first_ingest_s")
    p.backfill()
    t_built = time.perf_counter()
    exp = Expect(p.gen)
    rng = random.Random(len(exp.cases))
    key = rng.choice(sorted(exp.cases))
    probe = exp.probes[0] if exp.probes else None
    srv = None
    for i in range(API_ROUNDS):
        if srv is not None:
            srv.close()
        t_round = time.perf_counter()
        srv = serve_round(p, exp, key, probe)
        if srv is None:
            return
        if i == 0:
            # the base file to the first serving-ready context
            run.add("refresh_s", (t_built - t0) + (time.perf_counter() - t_round))
    workers = [Client(p.gen, exp, seed * 1000 + i) for i in range(API_CLIENTS)]
    closed_loop(srv, run, exp, workers, API_WARMUP_S)
    for k in ("list_cases_ms", "get_case_ms", "search_ms"):
        run.timings[k] = []
    run.add("serve_req_per_s", closed_loop(srv, run, exp, workers, seconds))
    srv.close()


def closed_loop(srv: Server, run: Run, exp: Expect, workers: list[Client],
                seconds: float) -> float:
    """Each client thread sends its next request as soon as the last
    one is answered, until ``seconds`` have passed; returns the request
    rate: the sum over clients of requests completed over the time to
    that client's last answer (a client that finished early does not
    count the other's last request as its own time)."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    done = [0] * len(workers)
    spans = [0.0] * len(workers)

    def loop(i: int) -> None:
        while time.perf_counter() < deadline:
            op, args = workers[i].draw()
            send(srv.port, run, exp, op, args)
            done[i] += 1
        spans[i] = time.perf_counter() - t0

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(workers))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(n / s for n, s in zip(done, spans) if n)


WORKLOADS = {"nightly_ingest": nightly_ingest, "api_serving": api_serving}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def details(run: Run) -> dict[str, tuple[float, str, int]]:
    """Every measured quantity under its user-facing name, with its unit
    and sample count (printed; not all carry a bound).  Quantities the
    workload did not measure are left out."""
    t, c = run.timings, run.counts

    def rate(count, key):
        return (c.get(count, 0) / sum(t[key]) if t.get(key) else 0.0, "1/s", len(t.get(key, ())))

    def med(key, unit):
        return (_med(t.get(key)), unit, len(t.get(key, ())))

    requests = t.get("list_cases_ms", []) + t.get("get_case_ms", []) + t.get("search_ms", [])
    out = {
        "first_ingest_s": med("first_ingest_s", "s"),
        "delta_ingest_s": med("delta_ingest_s", "s"),
        "ingest_records_per_s": rate("ingest_records", "ingest_s"),
        "night_s": med("night_s", "s"),
        "backfill_chunks_per_s": rate("backfill_chunks", "backfill_s"),
        "quality_report_s": med("quality_s", "s"),
        "serving_ready_s": med("serving_ready_s", "s"),
        "refresh_s": med("refresh_s", "s"),
        "serve_req_per_s": med("serve_req_per_s", "1/s"),
        "list_cases_p50_ms": med("list_cases_ms", "ms"),
        "get_case_p50_ms": med("get_case_ms", "ms"),
        "search_p50_ms": med("search_ms", "ms"),
        "request_mean_ms": (statistics.fmean(requests) if requests else 0.0, "ms", len(requests)),
    }
    return {k: v for k, v in out.items() if v[2]}


def end_to_end(run: Run, workload: str, rss_mb: float) -> dict[str, tuple[float, str]]:
    """The bounded metrics.  ``setup_s`` is the median serving-context
    load on both workloads.  ``throughput_per_s`` and ``latency_ms``
    measure each workload's own unit of work: records over the summed
    ``cli ingest`` walls of all batches and the night's wall from the
    first file to the quality verdict for ``nightly_ingest``; requests
    and the mean client latency of the timed window for ``api_serving``.
    Each sums a run's whole timed work, not one operation of it."""
    d = details(run)
    if workload == "nightly_ingest":
        throughput = d["ingest_records_per_s"][0]
        latency = d["night_s"][0] * 1000
    else:
        throughput = d["serve_req_per_s"][0]
        latency = d["request_mean_ms"][0]
    return {
        "setup_s": (d["serving_ready_s"][0], "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_ms": (latency, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
