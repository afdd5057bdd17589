"""Docket-pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload nightly_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload generates its inputs from
``--seed``, builds a fresh warehouse under ``.perfbench-work/`` with the
program in this checkout, checks every output against the generator's
model, and prints human-readable lines (environment record, every
metric with its unit and sample count) followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's layer boundaries in spans (perfbench/spans.py), writes them to
``.perfbench-work/spans-<workload>-<seed>.jsonl`` and reports the
per-layer metrics instead.  Workloads and metrics are described in
perfbench/DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, Run, details, end_to_end  # noqa: E402

DRIVER_MEM = "2g"
SPARK_CPUS = "2"


def steal_seconds() -> float:
    """Cumulative CPU time the hypervisor stole from this machine
    (the steal column of /proc/stat's aggregate cpu line)."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            parts = f.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of peak resident sizes (VmHWM) over this process tree — the
    benchmark process and the Spark driver JVM it launched."""
    total_kb = 0
    for p in tree_pids(pid):
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of this process tree so far."""
    ticks = 0
    for p in tree_pids(pid):
        try:
            fields = Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: Path) -> None:
    """Keep the JVM, Spark and Python temp files inside the work dir and
    size the driver for a small machine (the session default is 16g).
    Spark gets SPARK_CPUS task slots, fewer than the machine's cores, so
    the JVM's compiler and GC threads and the benchmark's clients are not
    left waiting for a core."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("SPARK_GRAFT_CPUS", SPARK_CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed driver heap (initial = maximum) keeps the JVM's resident
    # size from tracking run-to-run differences in GC timing
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{heap} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description="docket-pipeline benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    work_root = ROOT / ".perfbench-work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    prepare_env(work)
    os.chdir(work)  # spark-warehouse/ and friends land in the work dir
    load_before = os.getloadavg()
    steal0 = steal_seconds()

    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    from legal_data_ingestion_rag_pipeline_spark import session

    spark = session.build_session("perfbench")
    t1 = time.perf_counter()
    session_start_s = t1 - t0

    tracer = patched = None
    if args.trace:
        import spans as tr

        tracer = tr.Tracer(spark.sparkContext)
        tracer.record("session.build_session", t0, t1)
        patched = tr.instrument(tracer, spark)

    run = Run()
    t_run = time.perf_counter()
    try:
        WORKLOADS[args.workload](spark, work, args.seed, args.seconds, run)
    finally:
        if patched:
            tr.restore(patched)
    run_wall = time.perf_counter() - t_run
    rss = peak_rss_mb(os.getpid())
    cpu = cpu_seconds(os.getpid())

    e2e = end_to_end(run, args.workload, rss)

    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "stolen_cpu_s": round(steal_seconds() - steal0, 2),
        "process_cpu_s": round(cpu, 2),
        "session_start_s": round(session_start_s, 3),
        "run_wall_s": round(run_wall, 3),
        "process_wall_s": round(time.perf_counter() - T_START, 3),
    }
    print("env " + json.dumps(env))
    print(f"failed_frac {run.failed / max(run.attempted, 1):.6f} ({run.failed}/{run.attempted})")
    for name, (value, unit, n) in details(run).items():
        print(f"detail {name} {value:.6g} {unit} n={n}")
    for name, (value, unit) in e2e.items():
        print(f"e2e {name} {value:.6g} {unit}")

    if tracer is not None:
        chunks = int(run.counts.get("backfill_chunks", 0))
        layer = tr.layer_metrics(tracer, run.input_bytes, run.client_ms, run_wall, chunks)
        tracer.write(work_root / f"spans-{args.workload}-{args.seed}.jsonl")
        for name, (value, unit) in layer.items():
            print(f"layer {name} {value:.6g} {unit}")
        metrics = layer
    else:
        metrics = e2e

    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
