"""Benchmark CLI: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload trends_weekly --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with the span recorder, the Spark
event log and the streaming listener on, prints the per-layer metrics and
writes the full per-op layer table to ``.perfbench_out/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: times the input generation and staging run in set-up; ``setup_s`` counts
#: their median once
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
SPAN_KEYS = {
    "sources.ingest": "sources.ingest_s",
    "sources.parquet.read": "sources.parquet.read_s",
    "operators.plan": "operators.plan_s",
    "sources.sinks.write": "sources.sinks.write_s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench import tracing

    units = {k: "s" for k in SPAN_KEYS.values()}
    units.update({"sources.sinks.files_written": "count", "sources.sinks.bytes_per_row": "B"})
    for k in tracing.SPARK_KEYS:
        units[k] = "s" if k.endswith("_s") else "B" if k.endswith("_bytes") else "count"
    units["spark.task_skew"] = "ratio"
    units["plans.artifacts.builds"] = "count"
    for k in tracing.STREAM_KEYS:
        units[k] = "ms" if k.endswith("_ms") else "count"
    units["trace.wall_s"] = "s"
    return units


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that has at least ten
    samples beyond it. Below 21 samples no percentile above the median has,
    and the maximum (percentile 100) is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def build_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = min(4, len(os.sched_getaffinity(0)))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # one shuffle partition per core, as bench.py sizes them
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # keep the JVM's scratch files inside the checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    )
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def drain_listener_bus(spark) -> None:
    """Let queued listener events (streaming progress) reach their
    listeners before they are read."""
    time.sleep(0.5)
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # py4j error: the drain is best effort
        pass


def timed_loop(wl, spark, tracer, seconds: float, trace: bool):
    """Closed loop, one client: whole blocks of ops until ``seconds`` have
    passed and at least ``wl.min_blocks`` blocks ran. Returns one record per
    op."""
    from perfbench import tracing

    ops = []
    markers = tracing.count_markers(os.environ["SPARK_GRAFT_ARTIFACT_DIR"]) if trace else 0
    t0 = time.perf_counter()
    i = 0
    while True:
        for _ in range(wl.block):
            op_id = f"op{i}"
            tracer.op = op_id
            wl.prepare(i)
            if trace:
                spark.sparkContext.setJobGroup(op_id, wl.label(i))
            error = None
            start = time.time()
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.run(i)
            except Exception as e:  # a failed op is counted, the loop goes on
                traceback.print_exc()
                error = f"{type(e).__name__}: {e}"
            latency = time.perf_counter() - t
            end = time.time()
            rec = {"id": op_id, "label": wl.label(i), "start": start, "end": end,
                   "latency": latency, "rows_in": wl.input_rows(i)}
            if error is None:
                res = wl.check(i)
                error = res["error"]
                rec.update(files=res["files"], bytes=res["bytes"], rows_out=res["rows"])
            if trace:
                now = tracing.count_markers(os.environ["SPARK_GRAFT_ARTIFACT_DIR"])
                rec["builds"], markers = now - markers, now
            if error is not None:
                print(f"perfbench: op {i} ({wl.label(i)}) failed: {error}", flush=True)
            rec["error"] = error
            ops.append(rec)
            i += 1
        if time.perf_counter() - t0 >= seconds and i >= wl.min_blocks * wl.block:
            return ops


def layer_table(ops, tracer, spark_rows, stream_rows) -> list[dict]:
    """One row per op: span times per layer plus the Spark, streaming,
    sink and artifact counters."""
    from perfbench import tracing

    span_self = tracing.self_times(tracer.spans)
    rows = []
    for op in ops:
        row = {"op": op["id"], "label": op["label"], "latency_s": op["latency"]}
        row.update(dict.fromkeys(SPAN_KEYS.values(), 0.0))
        for sp, self_s in zip(tracer.spans, span_self):
            if sp["op"] == op["id"] and sp["name"] in SPAN_KEYS:
                row[SPAN_KEYS[sp["name"]]] += sp["end"] - sp["start"]
            elif sp["op"] == op["id"] and sp["name"] == "op":
                row["bench.self_s"] = self_s
        row["sources.sinks.files_written"] = op.get("files", 0)
        row["sink_bytes"] = op.get("bytes", 0)
        row["sink_rows"] = op.get("rows_out", 0)
        row["plans.artifacts.builds"] = op.get("builds", 0)
        row.update(spark_rows[op["id"]])
        row.update(stream_rows[op["id"]])
        rows.append(row)
    return rows


def per_layer_metrics(rows: list[dict], wall_s: float) -> dict[str, float]:
    """Per-op means of the layer table (additive quantities, so the layer
    times of one op add up to about its latency)."""
    units = per_layer_units()
    n = len(rows)
    out = {}
    for k in units:
        if k == "trace.wall_s":
            out[k] = wall_s
        elif k == "sources.sinks.bytes_per_row":
            written = sum(r["sink_rows"] for r in rows)
            out[k] = sum(r["sink_bytes"] for r in rows) / written if written else 0.0
        else:
            out[k] = sum(r[k] for r in rows) / n
    return out


def print_layer_table(rows: list[dict]) -> None:
    cols = ["latency_s", "sources.ingest_s", "sources.parquet.read_s", "operators.plan_s",
            "sources.sinks.write_s", "driver.outside_jobs_s", "spark.jobs", "spark.tasks",
            "spark.executor_cpu_s", "plans.artifacts.builds", "streaming.batches"]
    by_label: dict[str, list[dict]] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    short = [c.split(".", 1)[-1] for c in cols]
    print("label".ljust(28) + " n " + " ".join(s[:12].rjust(12) for s in short))
    for label, rs in by_label.items():
        means = [sum(r[c] for r in rs) / len(rs) for c in cols]
        print(label[:28].ljust(28) + f"{len(rs):2d} " + " ".join(f"{m:12.4g}" for m in means))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import data_engineer_interview_task_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package does not import from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "artifacts"):
        os.makedirs(os.path.join(work, sub))
    import tempfile

    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")

    spark = None
    try:
        spark = build_session(work, trace)
        session_s = time.time() - T_PROCESS
        tracer = tracing.Tracer(trace)
        collector = None
        if trace:
            collector = tracing.StreamingCollector()
            spark.streams.addListener(collector)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        gen_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.make_inputs(rep)
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        attempted, failed = wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = time.time() - T_PROCESS - sum(gen_s) + statistics.median(gen_s)

        t = time.perf_counter()
        ops = timed_loop(wl, spark, tracer, args.seconds, trace)
        loop_s = time.perf_counter() - t
        latencies = [op["latency"] for op in ops]
        blocks = [sum(latencies[i:i + wl.block]) for i in range(0, len(ops), wl.block)]
        wall_s = statistics.median(blocks)
        attempted += len(ops)
        failed += sum(op["error"] is not None for op in ops)
        tail_s, tail_pct = tail(latencies)
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        rss = vm_hwm_mb("self") + (vm_hwm_mb(proc.pid) if proc is not None else 0.0)
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": tail_s,
            "rows_per_s": sum(op["rows_in"] for op in ops) / sum(latencies),
            "peak_rss_mb": rss,
        }
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
              f"ops={len(ops)} blocks={len(blocks)} (block={wl.block} ops) "
              f"op_tail_s at p{tail_pct:.1f} of n={len(ops)} "
              f"error_rate={failed}/{attempted}={failed / attempted:.4f}", flush=True)
        print(f"  set-up: session {session_s:.2f}s, inputs {' '.join(f'{g:.2f}' for g in gen_s)}s, "
              f"warm-up {warm_s:.2f}s; timed loop {loop_s:.2f}s", flush=True)
        print("  " + "  ".join(f"{k}={v:.6g}{END_TO_END[k]}" for k, v in e2e.items()), flush=True)
        print("  op latencies (s): " + " ".join(f"{x:.3f}" for x in latencies), flush=True)

        if trace:
            drain_listener_bus(spark)
            progress = list(collector.progress)
            stop_session(spark)
            spark = None
            logs = os.listdir(os.path.join(work, "eventlog"))
            log = tracing.read_event_log(os.path.join(work, "eventlog", logs[0]))
            rows = layer_table(ops, tracer, tracing.reduce_ops(ops, log),
                               tracing.reduce_streaming(ops, progress))
            print_layer_table(rows)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            out_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
            with open(out_path, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
                           "ops": rows, "spans": tracer.spans, "streaming": progress}, fh)
            print(f"perfbench: per-op layer table written to {os.path.relpath(out_path, ROOT)}")
            units = per_layer_units()
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in per_layer_metrics(rows, wall_s).items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
