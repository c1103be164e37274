#!/usr/bin/env python3
"""Benchmark of pero_ocr_api_spark: one workload per run.

    python3 perfbench/run.py --workload extraction --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run starts one Spark session on
local[N] with N = the CPUs this process may use, materializes the
seeded inputs, warms up, then repeats passes of the workload for
``--seconds`` seconds, checks every output against the repository's
oracles, and prints one line per metric followed by one JSON object as
the last line of standard output.  ``--trace 1`` runs the workload
untraced in a child process first, then traced, and prints the
per-layer metrics and the tracing overhead instead of the end-to-end
metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUT_REPS = 3
MIN_PASSES = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_path() -> None:
    """Make the checkout's package importable here and in the Python
    workers Spark starts, not only in this driver process."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def scratch_dirs(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # shuffle, spill
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def untraced_wall(args) -> float:
    """wall_s of an untraced run of the same workload and seed in a
    child process, so that both runs start from a fresh JVM."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=150, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until it has ended (it
    exits when its stdin closes); its Python workers end with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def start_session(get_spark, work: str, cores: int, event_log: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", parallelism=cores, extra_conf=conf)


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    import_path()
    try:
        from pero_ocr_api_spark.session import get_spark
        import tracing
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    untraced_wall_s = untraced_wall(args) if args.trace else None
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    scratch_dirs(work)

    # a kill runs the clean-up below instead of leaving files behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        rss = tracing.PeakRSS().start()
        t = time.monotonic()
        spark = start_session(get_spark, work, cores, event_log=bool(args.trace))
        session_s = time.monotonic() - t
        wl = workloads.WORKLOADS[args.workload](spark, tracing.Tracer(), args.seed, cores)
        input_runs = []
        for i in range(INPUT_REPS):
            t = time.monotonic()
            wl.materialize(os.path.join(work, f"input-{i}"))
            input_runs.append(time.monotonic() - t)
        input_s = statistics.median(input_runs)
        warmup_s = wl.warmup(os.path.join(work, "warmup"))
        setup_s = session_s + input_s + warmup_s

        patches = []
        trace_dir = os.path.join(work, "worker-spans")
        if args.trace:
            wl.tracer = tracing.Tracer(spark.sparkContext, run_id, enabled=True)
            patches = install_patches(wl.tracer, trace_dir)
        passes = []
        t0 = time.monotonic()
        try:
            # passes start until --seconds have gone by (the last one
            # runs to its end), and at least two run, so that a median
            # never rests on the first pass alone
            while len(passes) < MIN_PASSES or time.monotonic() - t0 < args.seconds:
                with wl.tracer.span("pass"):
                    passes.append(wl.run_pass(os.path.join(work, f"pass-{len(passes)}")))
        finally:
            for module, attr, original in patches:
                setattr(module, attr, original)
        measure_s = time.monotonic() - t0
        peak_rss_mb = rss.stop()
        held_mb, heap_after_gc_mb = tracing.held_memory(spark.sparkContext._jvm, os.getpid())

        t = time.monotonic()
        bad = wl.check()
        check_s = time.monotonic() - t
        stop_session(spark)
        spark = None

        ops = [op for p in passes for op in p.ops]
        failed = sum(1 for op in ops if op.error or op.name in bad)
        for i, p in enumerate(passes):
            print(f"pass {i}: wall {p.wall_s:.3f} s; " + ", ".join(
                f"{op.name} {op.latency:.3f}" for op in p.ops), file=sys.stderr)
        for op in ops:
            if op.error:
                print(f"FAILED {op.name}: {op.error}", file=sys.stderr)
        for name, problem in bad.items():
            print(f"MISMATCH {name}: {problem}", file=sys.stderr)
        wall_s = statistics.median(p.wall_s for p in passes)
        latencies = [op.latency for p in passes for op in p.latency_ops]
        summary = {
            "workload": args.workload, "seed": args.seed, "cpus": cores,
            "passes": len(passes), "ops": len(ops), "latency_samples": len(latencies),
            "failed_frac": failed / len(ops),
            "session_s": round(session_s, 3), "input_s": round(input_s, 3),
            "warmup_s": round(warmup_s, 3), "measure_s": round(measure_s, 3),
            "check_s": round(check_s, 3),
        }
        print(f"# {json.dumps(summary)}")
        if args.trace:
            metrics = per_layer(
                wl, passes, os.path.join(work, "eventlog"), trace_dir,
                {"session_s": session_s, "input_s": input_s, "warmup_s": warmup_s},
                summary["failed_frac"])
            metrics["memory.peak_rss_mb"] = (peak_rss_mb, "MiB")
            metrics["memory.heap_after_gc_mb"] = (heap_after_gc_mb, "MiB")
            metrics["trace.overhead_s"] = (wall_s - untraced_wall_s, "s")
            print(f"tracing overhead: {wall_s - untraced_wall_s:+.4f} s "
                  f"(traced wall_s {wall_s:.4f} s - untraced wall_s "
                  f"{untraced_wall_s:.4f} s)")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall_s, "s"),
                "docs_per_s": (passes[0].docs / wall_s, "1/s"),
                "first_commit_s": (statistics.median(p.first_s for p in passes), "s"),
                "latency_p50_s": (statistics.median(latencies), "s"),
                "latency_p90_s": (
                    statistics.quantiles(latencies, n=10, method="inclusive")[8], "s"),
                "held_mb": (held_mb, "MiB"),
            }
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.6g} {unit}  [cpus={cores}]")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def install_patches(tracer, trace_dir: str) -> list[tuple]:
    """Traced run only: Arrow-batch spans inside the inference stage and
    a span around each extract() call made by the checkpointed run."""
    import tracing
    from pero_ocr_api_spark.plans import checkpoint, pipeline

    os.makedirs(trace_dir, exist_ok=True)
    patches = [
        (pipeline, "make_infer_fn", pipeline.make_infer_fn),
        (checkpoint, "extract", checkpoint.extract),
    ]
    pipeline.make_infer_fn = tracing.traced_make_infer_fn(
        pipeline.make_infer_fn, tracer, trace_dir)
    checkpoint.extract = tracing.traced_call(checkpoint.extract, tracer, "checkpoint.extract")
    return patches


def per_layer(wl, passes, log_dir, trace_dir, setup,
              failed_frac) -> dict[str, tuple[float, str]]:
    import tracing
    import workloads

    tracer = wl.tracer
    ev = tracing.EventLog(log_dir)
    worker = [s for s in tracing.read_worker_spans(trace_dir) if s["run"] == tracer.run_id]
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    n = len(passes)

    def under(*names: str) -> list[str]:
        """ids (as event-log strings) of spans named ``names`` and of
        everything inside them."""
        out = []
        for s in spans:
            cur = s
            while cur is not None:
                if cur["name"] in names:
                    out.append(str(s["id"]))
                    break
                cur = by_id.get(cur["parent"])
        return out

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    extraction = under("pipeline.extract", "sink.spans", "sink.docs", "serialize.txt",
                       "serialize.alto", "serialize.page", "checkpoint.run",
                       "checkpoint.readback")
    m: dict[str, tuple[float, str]] = {}
    for k, v in setup.items():
        m[f"setup.{k}"] = (v, "s")

    # ---- plans.pipeline ----
    m["pipeline.plan_s"] = ((dur("pipeline.extract") + dur("checkpoint.extract")) / n, "s")
    m["pipeline.explode_rows"] = (ev.sql(
        extraction, "number of output rows",
        lambda nd: nd[0] == "Generate" and "explode(spans" in nd[1]) / n, "count")
    m["pipeline.sort_s"] = (ev.sql(
        extraction, "sort time",
        lambda nd: nd[0] == "Sort" and "line_idx" in nd[1]) / n, "s")
    m["pipeline.agg_s"] = (ev.sql(
        extraction, "time in aggregation build", lambda nd: "percentile" in nd[1]) / n, "s")
    m["pipeline.spill_bytes"] = (ev.sql(extraction, "spill size") / n, "B")

    # ---- operators.inference (the MapInPandas stage) ----
    def pandas(metric):
        return ev.sql(extraction, metric, lambda nd: nd[0] == "MapInPandas") / n

    batches = worker
    calls = sum(w["device_calls"] for w in batches)
    slots = sum(w["device_calls"] * w["batch_pages"] for w in batches)
    m["inference.batches"] = (len(batches) / n, "count")
    m["inference.rows_in"] = (sum(w["rows_in"] for w in batches) / n, "count")
    m["inference.rows_out"] = (sum(w["rows_out"] for w in batches) / n, "count")
    m["inference.python_s"] = (pandas("time to run Python workers"), "s")
    m["inference.boot_s"] = (pandas("time to start Python workers"), "s")
    m["inference.init_s"] = (pandas("time to initialize Python workers"), "s")
    m["inference.arrow_sent_bytes"] = (pandas("data sent to Python workers"), "B")
    m["inference.arrow_received_bytes"] = (pandas("data returned from Python workers"), "B")
    m["inference.device_ms"] = (sum(w["device_ms"] for w in batches) / n, "ms")
    m["inference.device_calls"] = (calls / n, "count")
    m["inference.call_fill"] = (
        sum(w["device_pages"] for w in batches) / slots if slots else 0.0, "ratio")
    m["inference.decode_failures"] = (sum(w["decode_failures"] for w in batches) / n, "count")
    m["inference.task_skew"] = (ev.stage_skew(extraction, "MapInPandas"), "ratio")

    # ---- shuffle (every job of the measured passes) ----
    measured = under("pass")
    m["shuffle.write_bytes"] = (ev.task_sum(measured, "shuffle_bytes") / n, "B")
    m["shuffle.write_s"] = (ev.task_sum(measured, "shuffle_write_ns") * 1e-9 / n, "s")
    m["shuffle.fetch_wait_s"] = (ev.task_sum(measured, "fetch_wait_ms") * 1e-3 / n, "s")
    m["shuffle.records"] = (ev.task_sum(measured, "shuffle_records") / n, "count")

    # ---- operators.serialize ----
    for kind in ("txt", "alto", "page"):
        m[f"serialize.{kind}_s"] = (dur(f"serialize.{kind}") / n, "s")
    m["serialize.bytes_out"] = (ev.sql(
        under("serialize.txt", "serialize.alto", "serialize.page"), "written output") / n, "B")

    # ---- plans.checkpoint ----
    writes = under("checkpoint.write_group")
    write_s = ev.execution_s(writes, lambda root: "InsertIntoHadoopFsRelation" in root)
    ckpt = under("checkpoint.run", "checkpoint.readback")
    input_bytes = wl.input_bytes()
    m["checkpoint.groups"] = (sum(s["name"] == "checkpoint.commit" for s in spans) / n, "count")
    m["checkpoint.stage_s"] = (dur("checkpoint.stage") / n, "s")
    m["checkpoint.extract_s"] = (dur("checkpoint.extract") / n, "s")
    m["checkpoint.write_s"] = (write_s / n, "s")
    m["checkpoint.readback_s"] = (
        (dur("checkpoint.write_group") - write_s + dur("checkpoint.readback")) / n, "s")
    m["checkpoint.commit_s"] = (dur("checkpoint.commit") / n, "s")
    m["checkpoint.jobs"] = (ev.job_count(ckpt) / n, "count")
    m["checkpoint.files_written"] = (ev.sql(ckpt, "number of written files") / n, "count")
    written = ev.sql(under("checkpoint.run"), "written output") / n
    m["checkpoint.bytes_per_input_byte"] = (
        written / input_bytes if input_bytes and written else 0.0, "ratio")

    # ---- queries.controlplane / plans.statemachine and functions.* ----
    def op_latencies(name):
        return [op.latency for p in passes for op in p.ops if op.name == name]

    for q in sorted(workloads.STATUS_QUERIES):
        lat = op_latencies(q)
        m[f"status.{q}.p50_s"] = (statistics.median(lat) if lat else 0.0, "s")
    status = under(*(f"status.{q}" for q in workloads.STATUS_QUERIES))
    n_status = sum(len(op_latencies(q)) for q in workloads.STATUS_QUERIES)
    plans = [s["end"] - s["start"] for s in spans if s["name"] == "status.plan"]
    scanned = ev.sql(status, "number of output rows",
                     lambda nd: nd[0].startswith(("Scan", "LocalTableScan", "FileScan")))
    rows_out = wl.result_rows()
    out_rows = sum(rows_out.get(q, 0) * len(op_latencies(q)) for q in workloads.STATUS_QUERIES)
    m["status.plan_s"] = (statistics.mean(plans) if plans else 0.0, "s")
    m["status.jobs_per_query"] = (ev.job_count(status) / n_status if n_status else 0.0, "count")
    m["status.tasks_per_query"] = (ev.task_count(status) / n_status if n_status else 0.0, "count")
    m["status.rows_scanned_per_row_out"] = (scanned / out_rows if out_rows else 0.0, "ratio")

    for j in sorted(workloads.CURATION_JOBS):
        lat = op_latencies(j)
        m[f"curation.{j}.s"] = (statistics.median(lat) if lat else 0.0, "s")
    curation = under(*(f"curation.{j}" for j in workloads.CURATION_JOBS))
    m["curation.jobs"] = (ev.job_count(curation) / n, "count")
    m["curation.shuffle_bytes"] = (ev.task_sum(curation, "shuffle_bytes") / n, "B")
    m["curation.spill_bytes"] = (ev.sql(curation, "spill size") / n, "B")

    m["failed_frac"] = (failed_frac, "ratio")

    # spans out: one JSON line per driver and worker span, next to the
    # checkout's other run output
    traces = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{tracer.run_id}.jsonl"), "w") as f:
        for s in spans + worker:
            f.write(json.dumps(s) + "\n")
    for name, agg in sorted(tracing.self_times(spans).items()):
        print(f"span {name}: n={agg['count']} total={agg['total_s']:.4f} s "
              f"self={agg['self_s']:.4f} s")
    return m


if __name__ == "__main__":
    sys.exit(main())
