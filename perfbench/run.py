"""The repository's benchmark of record.

    python3 perfbench/run.py --workload {ingest,search} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Builds nothing: it imports the program
from the checkout, generates (or reuses) the seeded inputs under
``.perfbench-run/cache``, starts a SparkSession sized from the host
(``local[nproc]``, nproc shuffle partitions, a driver heap of a quarter
of RAM capped at 4g), and drives the workload with one closed-loop
client for S seconds. All scratch files stay under ``.perfbench-run``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
from a run whose timed requests are traced in the pattern T U U T, so
it also weighs the tracing overhead. The lines before
it print every workload metric by name and unit, the checks, and the
tail percentile with its sample count. Exits 1 when a check fails, 2
when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import harness
import inputs
import workloads
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "generative_ai_vector_db_spark"
MODULES = {
    "session": "session",
    "chunker": "operators.chunker",
    "ingest": "operators.ingest",
    "store": "operators.store",
    "indexes": "operators.indexes",
    "rag": "operators.rag",
    "vector": "operators.vector",
    "dedup": "operators.dedup",
    "text": "operators.text",
    "embedding_stage": "sources.embedding_stage",
}
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "request_ms_p50": "ms",
    "peak_rss_mb": "MB",
}

VECTOR_KINDS = workloads.VECTOR_KINDS
PER_LAYER = {
    "session.start_s": "s",
    "embedding_stage.busy_s": "s",
    "embedding_stage.rows": "count",
    "chunker.busy_s": "s",
    "chunker.chunks_out": "count",
    "ingest.busy_s": "s",
    "ingest.chunks_in": "count",
    "ingest.chunks_kept": "count",
    "ingest.kept_ratio": "ratio",
    "store.append_s": "s",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    **{f"indexes.create_s.{k}": "s" for k in VECTOR_KINDS + ("neardup",)},
    "indexes.kind_lookup_s": "s",
    **{f"indexes.query_plan_s.{k}": "s" for k in VECTOR_KINDS},
    **{f"indexes.query_exec_s.{k}": "s" for k in VECTOR_KINDS},
    "indexes.query_spark_jobs": "count",
    "indexes.query_spark_tasks": "count",
    "indexes.append_s": "s",
    "indexes.rows_absorbed": "count",
    "indexes.files_per_component": "count",
    "indexes.compact_s": "s",
    "indexes.rows_before": "count",
    "indexes.rows_after": "count",
    "rag.busy_s": "s",
    "vector.batch_knn_s": "s",
    "dedup.busy_s": "s",
    "dedup.pairs_out": "count",
    "text.busy_s": "s",
    "text.kept_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "trace.overhead_ratio": "ratio",
    "trace.spans_per_request": "count",
}


def import_program():
    """The program's modules, imported from this checkout only."""
    sys.path.insert(0, ROOT)
    try:
        pkg = importlib.import_module(PACKAGE)
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PACKAGE} resolves outside {ROOT}", file=sys.stderr)
        sys.exit(2)
    return argparse.Namespace(**{
        k: importlib.import_module(f"{PACKAGE}.{m}") for k, m in MODULES.items()
    })


def host_size() -> tuple[int, str]:
    """(cores, driver memory): nproc, and a quarter of RAM capped at 4g."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return cores, f"{max(1, min(4, total_kb // (4 << 20)))}g"


def start_session(prog, work: str):
    """One set-up: session start, then a warm-up that starts the Python
    workers and ships the package to them. Returns (spark, start_s,
    setup_s)."""
    cores, mem = host_size()
    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = prog.session.get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory=mem,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm = spark.createDataFrame(
        [(i, f"warm up text number {i}") for i in range(16)], "id bigint, text string")
    prog.embedding_stage.embed_text(warm).collect()
    return spark, t1 - t0, time.perf_counter() - t0


def stop_everything(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    pids = harness.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def alive(p):
        try:
            with open(f"/proc/{p}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.time() + 30
    while any(alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.2)
    for p in pids:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def per_layer(h: harness.Harness, start_s: float, primary: tuple[str, ...],
              idx_root: str) -> dict:
    spans = h.tracer.spans
    selfs = h.tracer.self_times()
    traced = {r["id"] for r in h.requests(None) if r["traced"]}
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None and s["request"] in traced:
            by_name.setdefault(s["name"], []).append(s)

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    def busy(name):
        return mean([selfs[s["id"]] for s in by_name.get(name, [])])

    def attr(name, key):
        return mean([s[key] for s in by_name.get(name, []) if key in s])

    ingest = by_name.get("ingest", [])
    chunks_in = sum(s["chunks_in"] for s in ingest)
    m = {
        "session.start_s": start_s,
        "embedding_stage.busy_s": busy("embedding_stage"),
        "embedding_stage.rows": attr("embedding_stage", "rows"),
        "chunker.busy_s": busy("chunker"),
        "chunker.chunks_out": attr("chunker", "chunks_out"),
        "ingest.busy_s": busy("ingest"),
        "ingest.chunks_in": attr("ingest", "chunks_in"),
        "ingest.chunks_kept": attr("ingest", "chunks_kept"),
        "ingest.kept_ratio": (sum(s["chunks_kept"] for s in ingest) / chunks_in
                              if chunks_in else 0.0),
        "store.append_s": busy("store.append"),
        "store.files_written": attr("store.append", "files_written"),
        "store.bytes_written": attr("store.append", "bytes_written"),
        "indexes.kind_lookup_s": busy("indexes.kind_lookup"),
        "indexes.append_s": busy("indexes.append"),
        "indexes.rows_absorbed": attr("indexes.append", "rows_absorbed"),
        "indexes.compact_s": busy("indexes.compact"),
        "indexes.rows_before": attr("indexes.compact", "rows_before"),
        "indexes.rows_after": attr("indexes.compact", "rows_after"),
        "rag.busy_s": busy("rag"),
        "vector.batch_knn_s": busy("vector.batch_knn"),
        "dedup.busy_s": busy("dedup"),
        "dedup.pairs_out": attr("dedup", "pairs_out"),
        "text.busy_s": busy("text"),
        "text.kept_ratio": attr("text", "kept_ratio"),
    }
    for k in VECTOR_KINDS + ("neardup",):
        m[f"indexes.create_s.{k}"] = busy(f"indexes.create.{k}")
    for k in VECTOR_KINDS:
        m[f"indexes.query_plan_s.{k}"] = busy(f"indexes.query_plan.{k}")
        m[f"indexes.query_exec_s.{k}"] = busy(f"indexes.query_exec.{k}")

    # Spark work per traced request; query work per traced ask counts
    # the probe spans and the catalog lookups nested in them
    reqs = [r for r in h.requests(None) if r["traced"] and r["name"] != "create"]
    totals = {r["id"]: dict.fromkeys(("jobs", "stages", "tasks", "tasks_failed"), 0)
              for r in reqs}
    query: dict[str, list[int]] = {}
    names = {s["id"]: s["name"] for s in spans}
    for s in spans:
        if s["request"] in totals:
            for k in totals[s["request"]]:
                totals[s["request"]][k] += s["spark"][k]
            top = s["name"] if s["parent"] is None else names[s["parent"]]
            if s["name"].startswith("indexes.query_") or top.startswith("indexes.query_"):
                q = query.setdefault(s["request"], [0, 0])
                q[0] += s["spark"]["jobs"]
                q[1] += s["spark"]["tasks"]
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"spark.{k}"] = mean([t[k] for t in totals.values()])
    m["indexes.query_spark_jobs"] = mean([q[0] for q in query.values()])
    m["indexes.query_spark_tasks"] = mean([q[1] for q in query.values()])

    files = []
    for name in os.listdir(idx_root):
        for comp in os.listdir(os.path.join(idx_root, name)):
            if comp != "_meta":
                files.append(harness.parquet_stats(os.path.join(idx_root, name, comp))[0])
    m["indexes.files_per_component"] = mean(files)

    ratios = []
    for kind in primary:
        on, off = h.latencies(kind, traced=True), h.latencies(kind, traced=False)
        if on and off:
            ratios.append(statistics.fmean(on) / statistics.fmean(off) - 1)
    m["trace.overhead_ratio"] = mean(ratios)
    n_spans = [sum(1 for s in spans if s["request"] == r["id"]) for r in reqs]
    m["trace.spans_per_request"] = mean(n_spans)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prog = import_program()
    run_dir = os.path.join(ROOT, ".perfbench-run")
    cache = os.path.join(run_dir, "cache")
    work = os.path.join(run_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in (cache, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    # inputs first, so generation is outside every timed region
    gen = {"ingest": inputs.ingest_inputs,
           "search": inputs.search_inputs}[args.workload]
    gen(cache, args.seed)
    harness.log("inputs ready")

    tracer = Tracer(enabled=bool(args.trace))
    starts, setups = [], []
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, start_s, setup_s = start_session(prog, work)
            starts.append(start_s)
            setups.append(setup_s)
            harness.log(f"set-up {i + 1}/{SETUPS}: {setup_s:.2f}s")
        tracer.bind(spark.sparkContext)
        h = harness.Harness(spark, prog, tracer, args.seconds, bool(args.trace), work)
        if args.trace:  # the catalog lookup every index call makes
            prog.indexes.index_kind = tracer.wrap("indexes.kind_lookup",
                                                  prog.indexes.index_kind)
        result = workloads.WORKLOADS[args.workload](h, cache, args.seed)
        layers = (per_layer(h, statistics.median(starts), result["primary"],
                            result["indexes_root"]) if args.trace else None)
        attempted, failed = h.attempted_failed()
        harness.log("workload done")
    finally:
        if spark is not None:
            stop_everything(spark)
            harness.log("stopped")
        if args.trace:
            os.makedirs(os.path.join(run_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(run_dir, "traces",
                                     f"{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": statistics.median(setups),
        "request_ms_p50": result["request_ms_p50"],
        "peak_rss_mb": h.peak_rss_mb,
    }
    detail = {
        "setup_s": (e2e["setup_s"], "s"),
        "setup_s_each": (setups, "s"),
        "failed_op_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (h.peak_rss_mb, "MB"),
        **result["detail"],
    }
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    for name, (value, unit) in detail.items():
        print(f"  {name} = {json.dumps(value)} {unit}")
    for name, c in result["checks"].items():
        print(f"  check {name}: {json.dumps(c)}")
    for err in h.errors[:5]:
        print("  error " + err.replace("\n", "\n    "))
    correct = all(c["ok"] for c in result["checks"].values())
    chosen, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    if any(chosen[k] is None for k in units):
        correct = False
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k] if chosen[k] is not None else 0.0,
                        "unit": u} for k, u in units.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
