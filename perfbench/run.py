"""Engine benchmark: one seeded workload, timed at the public API.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository. Set-up (session
start, input generation, numpy ground truth, collections the workload
reads) is timed as ``setup_s``; then one client runs the workload's
closed loop in whole units (a serve cycle, an ingest round) while
``--seconds`` leave room for another. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1`` (Spark event log on). Each run
also writes its figures, environment and (traced) spans to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``. Human-readable
figures go to standard error. Everything the run writes stays inside
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "image_indexing_and_retrival_with_qdrant_spark"
READ_CLASSES = ("flat", "hnsw", "mv", "filtered", "batch", "check")
WRITE_OPS = ("upsert", "merge", "set_payload", "delete")
DEDUP_STEPS = ("exact", "minhash", "band_pairs", "components")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, PKG, "catalog.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file of the run (Python, JVM, Spark, the HNSW
    # kernel cache) lands inside the checkout
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_KERNEL_DIR=os.path.join(ROOT, ".perfbench_work",
                                            "kernels"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, bench: dict) -> dict:
    from image_indexing_and_retrival_with_qdrant_spark.operators import (
        hnsw_native,
    )
    from image_indexing_and_retrival_with_qdrant_spark.session import (
        get_spark,
    )

    import spans
    import workloads

    hnsw_native.load()  # one-time kernel build, kept out of set-up time
    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed 1 GiB heap: the JVM's resident set then depends on the
        # workload, not on when the collector chose to grow the heap
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed set of JIT compiler threads: none exits mid-run, so
        # cpu_ms_per_call can leave their CPU time out exactly
        "spark.driver.extraJavaOptions":
            f"-Xms1g -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
    }
    evdir = os.path.join(work, "events")
    if args.trace:
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false"})
    cpu0 = spans.cpu_times()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=str(nproc),
                      extra_conf=conf)
    session_ms = (time.perf_counter() - t0) * 1000.0
    try:
        rec = spans.Recorder(spark.sparkContext)
        r = workloads.Run(spark, rec, work, args.seed, args.seconds,
                          bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](r)
        wl.setup()
        setup_s = time.perf_counter() - t0
        cpu1 = spans.cpu_times()
        wl.measure()
        cpu2 = spans.cpu_times()
        rss_py = spans.vm_hwm_mb(os.getpid())
        rss_jvm = spans.vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        rss = rss_py + rss_jvm
        spark_version = spark.version
    finally:
        stop_spark(spark)

    out = r.out
    figures = {"setup_s": setup_s, "peak_rss_mb": rss,
               "peak_rss_python_mb": rss_py, "peak_rss_jvm_mb": rss_jvm,
               "error_rate": r.failed / max(r.attempted, 1)}
    if args.workload == "serve":
        lat = out["singles"]
        figures.update(latency_ms=out["latency_ms"],
                       search_p50_ms=_median(lat),
                       batch_qps=out["batch_qps"],
                       recall_at_10=out["recall_at_10"],
                       storage_amp=out["storage_amp"], cycles=out["rounds"])
        gated = {"recall": out["recall_at_10"]}
        tail_name = "search_tail_ms"
    else:
        lat = out["writes"]
        figures.update(
            latency_ms=out["latency_ms"],
            ingest_points_per_s=out["points_per_s"],
            write_p50_ms=_median(lat),
            read_after_write_ms=_median(r.lat.get("catalog.read.check", [])),
            recall_after_write=out["recall_after_write"],
            pipeline_docs_per_s=out["docs_per_s"],
            stream_events_per_s=out["events_per_s"],
            dup_recall=out["dup_recall"],
            storage_amp=out["storage_amp"],
            checkpoint_amp=out["checkpoint_amp"], round_s=out["round_s"],
            round_points_per_s=out["round_points_per_s"],
            rounds=out["rounds"])
        gated = {"recall": out["dup_recall"]}
        tail_name = "write_tail_ms"
    pct, tail = tail_percentile(lat)
    figures[tail_name] = tail
    figures["cpu_ms_per_call"], figures["jit_ms_per_call"] = \
        out["cpu_ms_per_call"]
    gated.update(setup_s=setup_s, cpu_ms_per_call=figures["cpu_ms_per_call"],
                 storage_amp=out["storage_amp"], peak_rss_mb=rss)

    span_dicts = rec.dump()
    per_layer = {}
    if args.trace:
        spans.enrich_spans(span_dicts, spans.parse_event_log(evdir),
                           r.stream_groups)
        per_layer = layer_metrics(span_dicts, r, session_ms)
    env = {"nproc": nproc, "spark_version": spark_version,
           "python": sys.version.split()[0],
           "steal_share_setup": spans.steal_share(cpu0, cpu1),
           "steal_share_measure": spans.steal_share(cpu1, cpu2),
           "samples": len(lat), "tail_percentile": pct}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "env": env,
              "attempted": r.attempted, "failed": r.failed,
              "errors": r.errors[:50], "metrics": gated,
              "figures": figures, "per_layer": per_layer,
              "stream_progress": out.get("stream_progress", []),
              "spans": span_dicts}
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    with open(os.path.join(outdir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for e in r.errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for k, v in figures.items():
        print(f"perfbench: {args.workload} {k} = {v:.6g}", file=sys.stderr)
    print(f"perfbench: {args.workload} tail percentile p{pct} over "
          f"{len(lat)} samples; nproc {nproc}; spark {spark_version}; "
          f"steal {env['steal_share_measure']:.3f}", file=sys.stderr)

    want = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = per_layer if args.trace else gated
    missing = [m["name"] for m in want if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                    "unit": m["unit"]} for m in want}}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs) -> tuple[int | None, float]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, and its value; (None, max) with fewer than 20 samples."""
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, float(statistics.quantiles(xs, n=100,
                                                 method="inclusive")[p - 1])
    return None, float(max(xs)) if xs else 0.0


def layer_metrics(span_dicts: list[dict], r, session_ms: float) -> dict:
    """Per-layer figures from the enriched spans: per-call medians for
    times, per-call means for counts, 0 for a layer the workload never
    called."""
    by: dict[str, list[dict]] = {}
    for s in span_dicts:
        if not s["error"]:
            by.setdefault(s["name"], []).append(s)

    def med(ss, key):
        return _median([s[key] for s in ss])

    def mean(ss, fn):
        return statistics.fmean([fn(s) for s in ss]) if ss else 0.0

    m = {"session.start_ms": session_ms}
    for cls in READ_CLASSES:
        ss = by.get(f"catalog.read.{cls}", [])
        p = f"catalog.read.{cls}."
        m[p + "calls"] = len(ss)
        m[p + "wall_ms"] = med(ss, "wall_ms")
        m[p + "jobs_per_call"] = mean(ss, lambda s: len(s["jobs"]))
        m[p + "stages_per_call"] = mean(ss, lambda s: s["stages"])
        m[p + "tasks_per_call"] = mean(ss, lambda s: s["tasks"])
        m[p + "job_wall_ms"] = med(ss, "job_wall_ms")
        m[p + "driver_gap_ms"] = med(ss, "driver_gap_ms")
    for op in WRITE_OPS:
        ss = by.get(f"catalog.write.{op}", [])
        p = f"catalog.write.{op}."
        files = [r.write_files.get(s["id"], (0, 0, 0)) for s in ss]
        points = sum(f[2] for f in files)
        m[p + "wall_ms"] = med(ss, "wall_ms")
        m[p + "jobs_per_call"] = mean(ss, lambda s: len(s["jobs"]))
        m[p + "tasks_per_call"] = mean(ss, lambda s: s["tasks"])
        m[p + "bytes_written_per_point"] = (
            sum(f[1] for f in files) / points if points else 0.0)
        m[p + "files_written"] = (statistics.fmean(f[0] for f in files)
                                  if files else 0.0)
    ss = by.get("catalog.index_build", [])
    m["catalog.index_build.wall_ms"] = med(ss, "wall_ms")
    m["catalog.index_build.jobs"] = mean(ss, lambda s: len(s["jobs"]))
    m["catalog.index_build.tasks"] = mean(ss, lambda s: s["tasks"])
    for step in DEDUP_STEPS:
        ss = by.get(f"operators.dedup.{step}", [])
        p = f"operators.dedup.{step}."
        m[p + "wall_ms"] = med(ss, "wall_ms")
        m[p + "jobs"] = mean(ss, lambda s: len(s["jobs"]))
        m[p + "shuffle_write_bytes"] = mean(
            ss, lambda s: s["shuffle_write_bytes"])
    m["functions.text.quality.wall_ms"] = med(
        by.get("functions.text.quality", []), "wall_ms")
    ss = by.get("streaming.dedup", [])
    prog = r.out.get("stream_progress", [])
    triggers = [p for drain in prog for p in drain]
    m["streaming.dedup.drain_ms"] = med(ss, "wall_ms")
    m["streaming.dedup.triggers"] = (statistics.fmean(len(d) for d in prog)
                                     if prog else 0.0)
    m["streaming.dedup.trigger_ms"] = _median(
        [p["trigger_ms"] for p in triggers])
    m["streaming.dedup.add_batch_ms"] = _median(
        [p["add_batch_ms"] for p in triggers])
    m["streaming.dedup.state_rows_total"] = (
        statistics.fmean(d[-1]["state_rows"] for d in prog if d)
        if prog else 0.0)
    m["streaming.dedup.jobs"] = mean(ss, lambda s: len(s["jobs"]))
    m["streaming.dedup.executor_run_ms"] = med(ss, "executor_run_ms")
    return m


if __name__ == "__main__":
    sys.exit(main())
