"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: headline-sf0.01, incremental-load (see perfbench/README.md).
Run it from the repository root; the engine is imported from the checkout
this file sits in, never from anywhere else.

A run sets up several times (input generation + digest check + Spark
session start) and reports the median, then runs closed-loop passes of
operations for ``--seconds`` (the first pass is the cold pass), then one
untimed verification pass against DuckDB twins and one-shot recomputes.
With ``--trace 1`` the passes after the cold one alternate between
traced and untraced, and the per-layer counters come from the traced ones.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The line before it carries the run details: input digests,
contention sentinel, set-up samples, pass walls and jobs, the tail
percentile used and the peak RSS. Details, metrics and spans are also written to
.perfbench_cache/out/ when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOADS = ("headline-sf0.01", "incremental-load")
SETUP_REPS = 3
# Whatever --seconds says, a run measures at least this many untraced warm
# passes (one when tracing, where no end-to-end metric is reported).
MIN_WARM = 2


def _configure_env(run_dir: str) -> int:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}' pyspark-shell"
        ),
    })
    time.tzset()
    return cpus


def _import_engine():
    """Import the engine from this checkout, or exit without a result."""
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "scripts")):
        raise SystemExit(f"perfbench: no scripts/ generators under {ROOT}")
    try:
        import bench
        import firmable_aus_etl_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: engine not importable from {ROOT}: {e}")
    pkg = os.path.dirname(os.path.abspath(firmable_aus_etl_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"perfbench: engine imported from {pkg}, not from {ROOT}")
    return bench


def _tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least 10
    samples beyond it, or the nearest-rank p75 when there are fewer than
    40 samples (a pass holds 3-9 operations, and higher ranks of so few
    samples are the single slowest operation)."""
    n, s = len(values), sorted(values)
    if n < 40:
        return 0.75, s[max(0, -(-3 * n // 4) - 1)]
    return (n - 10) / n, s[n - 11]


def _job_count(spark) -> int:
    """Jobs the application has run so far, from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    return jsc.statusStore().jobsList(None).size()


def _snapshot_write_stats(table: str) -> dict:
    """Files of the latest snapshot: written by this commit (one link) or
    carried forward from the previous snapshot (more than one link)."""
    from firmable_aus_etl_spark.sources import lakehouse

    snap = os.path.join(table, f"snapshot={lakehouse.latest_version(table)}")
    out = {"bytes_written": 0, "files_written": 0, "bytes_linked": 0, "partitions_rewritten": 0}
    for name in os.listdir(snap):
        part = os.path.join(snap, name)
        if not os.path.isdir(part):
            continue
        rewritten = False
        for f in os.listdir(part):
            st = os.lstat(os.path.join(part, f))
            if st.st_nlink == 1:
                out["bytes_written"] += st.st_size
                out["files_written"] += 1
                rewritten = True
            else:
                out["bytes_linked"] += st.st_size
        out["partitions_rewritten"] += rewritten
    return out


def _dedup_yield(docs) -> tuple[int, int]:
    """Rows out of the public MinHash-LSH candidate function, then out of
    the public candidate + verify pipeline, on the same documents."""
    from firmable_aus_etl_spark.operators import dedup

    sh = dedup.shingle_frame(docs, "doc_id", "text")
    cand = dedup.minhash_lsh_pairs_from_shingles(sh, num_hashes=32, bands=16).count()
    verified = dedup.verified_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
    ).count()
    return cand, verified


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for all children."""
    from pyspark import SparkContext

    from spans import descendants

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _run_passes(args, wl, tracer) -> tuple[list[dict], dict]:
    """Closed loop: whole passes until --seconds have passed and enough
    warm (and, with tracing, traced) passes exist."""
    passes, errors = [], {}
    jobs = _job_count(wl.spark)
    t_start = time.perf_counter()
    while True:
        n = len(passes)
        traced = bool(args.trace) and n % 2 == 1
        ops = wl.next_pass(args.seed)
        if ops is None:
            break
        tracer.enabled = traced
        rec = {"traced": traced, "ops": [], "merges": []}
        p0 = time.perf_counter()
        for op in ops:
            with tracer.span(f"op:{op.name}") as osp:
                ok = True
                try:
                    with tracer.span("queries.build", leaf=True):
                        built = op.build()
                    with tracer.span(op.sink_span, leaf=True):
                        op.sink(built)
                except Exception as e:
                    ok = False
                    errors.setdefault(op.name, f"{type(e).__name__}: {e}"[:300])
            rec["ops"].append({"name": op.name, "s": osp.duration, "ok": ok, "span": osp.id})
            if traced and ok and op.name == "merge":
                rec["merges"].append(_snapshot_write_stats(wl.table))
        rec["wall"] = time.perf_counter() - p0
        now = _job_count(wl.spark)
        rec["jobs"], jobs = now - jobs, now
        passes.append(rec)
        warm = [p for p in passes[1:] if not p["traced"]]
        enough = (len(warm) >= 1 and any(p["traced"] for p in passes)
                  if args.trace else len(warm) >= MIN_WARM)
        if time.perf_counter() - t_start >= args.seconds and enough:
            break
    tracer.enabled = False
    return passes, errors


def run(args) -> dict:
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    cpus = _configure_env(run_dir)
    bench = _import_engine()
    sys.path.insert(0, HERE)
    import inputs
    import workloads
    from spans import RssSampler, Tracer

    from firmable_aus_etl_spark.session import get_session

    sentinel_pre = bench._sentinel()
    setups, session_starts, spark = [], [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        data_dir, digest = inputs.prepare(CACHE, args.workload, args.seed, args.scale, str(rep))
        t1 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        session_starts.append(t2 - t1)

    wl = workloads.make(args.workload, data_dir)
    wl.start(spark, os.path.join(run_dir, "work"))
    tracer = Tracer(spark, enabled=False)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        passes, errors = _run_passes(args, wl, tracer)
        window_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        failed_checks = wl.verify(args.corrupt)
        verify_s = time.perf_counter() - t0
        dedup_counts = _dedup_yield(wl.documents()) if args.trace else None
    sentinel_post = bench._sentinel()

    # a failed op raised, or belongs to a query/kind whose check failed
    failed_names = set(failed_checks)
    if "merge" in failed_names:
        failed_names.add("write")
    all_ops = [o for p in passes for o in p["ops"]]
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if not o["ok"] or o["name"] in failed_names)

    warm = [p for p in passes[1:] if not p["traced"]]
    op_times = [o["s"] for p in warm for o in p["ops"]]
    tail_pct, tail = _tail(op_times)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (passes[0]["wall"], "s"),
        "warm_pass_s": (statistics.median(p["wall"] for p in warm), "s"),
        "op_p50_s": (statistics.median(op_times), "s"),
        "op_tail_s": (tail, "s"),
    }
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cores": cpus,
        "inputs_sha256": digest,
        "sentinel_s": {"pre": sentinel_pre, "post": sentinel_post},
        "setup_samples_s": [round(s, 4) for s in setups],
        "session_start_samples_s": [round(s, 4) for s in session_starts],
        "window_s": round(window_s, 3),
        "verify_s": round(verify_s, 3),
        "pass_walls_s": [[round(p["wall"], 4), "T" if p["traced"] else "U"] for p in passes],
        "pass_jobs": [p["jobs"] for p in passes],
        "op_tail": {"percentile": round(tail_pct, 4), "samples": len(op_times)},
        "end_to_end": {k: round(v, 6) for k, (v, _) in e2e.items()},
        "peak_rss_mb": round(rss.peak_bytes / 2**20, 3),
        "failed_checks": failed_checks,
        "errors": errors,
    }
    if args.trace:
        metrics = per_layer(args, wl, passes, tracer, cpus, session_starts,
                            dedup_counts, failed / attempted, rss.peak_bytes)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    out_dir = os.path.join(CACHE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump({"details": details, "metrics": metrics, "spans": tracer.dump()}, fh)
    _stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    details["process_s"] = round(time.perf_counter() - T_PROCESS, 3)
    print(json.dumps(details, default=str))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _median(values, default=0.0) -> float:
    v = list(values)
    return statistics.median(v) if v else default


def per_layer(args, wl, passes, tracer, cpus, session_starts, dedup_counts,
              failed_frac, peak_rss_bytes) -> dict:
    """Per-layer metrics, per traced pass unless stated otherwise."""
    spans = tracer.spans
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    traced_ops = [o for p in traced for o in p["ops"]]
    kids = {o["span"]: [s for s in spans if s.parent == o["span"]] for o in traced_ops}
    leaves = [s for o in traced_ops for s in kids[o["span"]]]
    nt = len(traced)

    def per_pass(key, pred=lambda name: True):
        return sum(s.counters.get(key, 0) for s in leaves if pred(s.name)) / nt

    def seconds(pred):
        return sum(s.duration for s in leaves if pred(s.name)) / nt

    def by_name(name, key):
        return _median(s.counters[key] for s in leaves if s.name == name)

    def kind_p50(kind):
        return _median(o["s"] for p in untraced for o in p["ops"] if o["name"] == kind)

    def build(name):
        return name == "queries.build"

    merges = [m for p in traced for m in p["merges"]]
    op_wall = sum(spans[o["span"]].duration for o in traced_ops)
    op_self = sum(tracer.self_time(o["span"]) for o in traced_ops)
    task_run = per_pass("task_run_s")
    cand, verified = dedup_counts
    on_disk, live, user = wl.footprint()
    stats = getattr(wl, "ingest_stats", [])
    ingest = "incremental.ingest_increment"
    m = {
        "queries.build_s": (seconds(build), "s"),
        "queries.build_jobs": (per_pass("jobs", build), "count"),
        "session.start_s": (statistics.median(session_starts), "s"),
        "session.peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
        "exec.sink_s": (seconds(lambda n: not build(n)), "s"),
        "exec.jobs": (per_pass("jobs"), "count"),
        "exec.stages": (per_pass("stages"), "count"),
        "exec.tasks": (per_pass("tasks"), "count"),
        "exec.task_run_s": (task_run, "s"),
        "exec.task_cpu_s": (per_pass("task_cpu_s"), "s"),
        "exec.gc_s": (per_pass("gc_s"), "s"),
        "exec.core_busy_frac": (
            task_run / (statistics.median(p["wall"] for p in traced) * cpus), "fraction"),
        "exec.task_skew": (_median(
            max(s.counters.get("task_skew", 1.0) for s in kids[o["span"]])
            for o in traced_ops), "ratio"),
        "shuffle.write_bytes": (per_pass("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (per_pass("shuffle_read_bytes"), "bytes"),
        "shuffle.records": (per_pass("shuffle_records"), "count"),
        "spill.disk_bytes": (per_pass("spill_disk_bytes"), "bytes"),
        "sql.sort_s": (per_pass("sql.sort_s"), "s"),
        "sql.agg_s": (per_pass("sql.agg_s"), "s"),
        "sql.join_rows_out": (per_pass("sql.join_rows_out"), "count"),
        "dedup.candidates": (cand, "count"),
        "dedup.verified": (verified, "count"),
        "dedup.yield": (verified / cand if cand else 0.0, "fraction"),
        "kernel.python_rows": (per_pass("kernel.python_rows"), "count"),
        "kernel.python_bytes": (per_pass("kernel.python_bytes"), "bytes"),
        "kernel.stage_run_s": (per_pass("kernel.stage_run_s"), "s"),
        "sources.input_bytes": (per_pass("input_bytes"), "bytes"),
        "sources.input_rows": (per_pass("input_rows"), "count"),
        "lakehouse.bytes_written": (_median(x["bytes_written"] for x in merges), "bytes"),
        "lakehouse.files_written": (_median(x["files_written"] for x in merges), "count"),
        "lakehouse.bytes_linked": (_median(x["bytes_linked"] for x in merges), "bytes"),
        "lakehouse.partitions_rewritten": (
            _median(x["partitions_rewritten"] for x in merges), "count"),
        "lakehouse.merge_jobs": (
            by_name("lakehouse.merge_into_partitioned_snapshot", "jobs"), "count"),
        "lakehouse.merge_p50_s": (kind_p50("merge"), "s"),
        "lakehouse.write_amp": (on_disk / user if user else 0.0, "ratio"),
        "lakehouse.space_amp": (on_disk / live if live else 0.0, "ratio"),
        "incremental.ingest_p50_s": (kind_p50("ingest"), "s"),
        "incremental.read_p50_s": (kind_p50("read"), "s"),
        "incremental.jobs_per_batch": (by_name(ingest, "jobs"), "count"),
        "incremental.history_bytes_read": (by_name(ingest, "input_bytes"), "bytes"),
        "incremental.dropped_frac": (
            sum(s["dropped"] for s in stats) / max(1, sum(s["batch_docs"] for s in stats)),
            "fraction"),
        "trace.overhead_frac": (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in untraced) - 1, "fraction"),
        "trace.op_self_frac": (op_self / op_wall, "fraction"),
        "ops_failed_frac": (failed_frac, "fraction"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the self-test scale")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row from one checked result (self-test)")
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
