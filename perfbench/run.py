"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` under ``perfbench/.work/`` (removed at exit); the engine is driven
only through its public functions. Progress and a human-readable summary go
to stderr; the last line of stdout is the result object. ``--trace 1``
records spans around every engine call of every other op, derives the
per-layer metrics from them and writes the spans to
``perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "nyc_taxi_data_ingestion_spark"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def make_workload(name: str, work: str, seed: int, tracer):
    if name == "medallion_batch":
        from medallion import MedallionBatch

        return MedallionBatch(work, seed, tracer, rows=250_000)
    if name == "lakehouse_cdc":
        from lakehouse import LakehouseCdc

        return LakehouseCdc(work, seed, tracer, seed_rows=200_000, day_rows=10_000)
    if name == "corpus_dedup":
        from corpus import CorpusDedup

        return CorpusDedup(work, seed, tracer, base_docs=1_500, vectors=2_000)
    if name == "analyst_mix":
        from analyst import AnalystMix

        return AnalystMix(work, seed, tracer, sf=0.02)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("medallion_batch", "lakehouse_cdc", "corpus_dedup", "analyst_mix")

# Every per-layer metric, in the order BENCHMARK.json lists them. A traced
# run prints all of them; one its workload does not load reads 0.
PER_LAYER = (
    "session.start_s", "process.peak_rss_mb",
    "plans.runner.compile_s", "plans.runner.silver_s", "plans.runner.quality_s",
    "plans.runner.attempts", "plans.runner.gold_wave_s", "plans.runner.gold_task_sum_s",
    "sources.sinks.bytes_written", "sources.sinks.files_written",
    "sources.sinks.bytes_written_per_input_byte", "sources.sinks.write_s",
    "sources.snapshots.append_s", "sources.snapshots.upsert_s",
    "sources.snapshots.commit_p50_s", "sources.snapshots.commit_p90_s",
    "sources.snapshots.scan_plan_s", "sources.snapshots.scan_exec_s",
    "sources.snapshots.time_travel_s", "sources.snapshots.incremental_read_s",
    "sources.snapshots.read_p50_s", "sources.snapshots.read_p90_s",
    "sources.snapshots.files_kept_ratio", "sources.snapshots.delete_debt_rows",
    "sources.snapshots.compact_s", "sources.snapshots.expire_s",
    "sources.snapshots.metadata_bytes", "sources.snapshots.files_live",
    "sources.snapshots.bytes_written_per_input_byte",
    "sources.snapshots.table_bytes_per_input_byte",
    "llm.curation.run_s", "llm.curation.kept_ratio",
    "llm.dedup.minhash_s", "llm.dedup.verified_pairs", "llm.dedup.verified_per_candidate",
    "llm.dedup.components_s", "llm.dedup.clusters", "llm.similarity.semantic_dedup_s",
    "queries.build_s", "queries.collect_s", "queries.sql_p50_s", "queries.agg_p50_s",
    "queries.events_p50_s", "queries.stats_p50_s", "queries.dq_p50_s", "queries.llm_p50_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.driver_only_s", "spark.idle_core_share",
    "trace.overhead_share",
)


def _stop_spark() -> None:
    """Stop the active session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, work: str) -> dict:
    import harness

    sys.path.insert(0, REPO)
    from nyc_taxi_data_ingestion_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    tracer = harness.Tracer(bool(args.trace))
    wl = make_workload(args.workload, work, args.seed, tracer)
    t = time.perf_counter()
    wl.generate()
    log(f"[{wl.name}] inputs generated in {time.perf_counter() - t:.2f}s "
        f"({wl.op_rows} rows per op, {wl.input_bytes} input bytes)")
    try:
        return _measure(args, wl, tracer, lambda: get_spark(master=f"local[{nproc}]"))
    finally:
        _stop_spark()
        close = getattr(wl, "close", None)
        if close is not None:
            close()


def _measure(args, wl, tracer, get_spark) -> dict:
    import harness

    # set-up: session + program-side staging + one checked warm-up op
    tracer.op = -1
    t = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t
    wl.stage(spark)
    wl.op(spark, -1)
    setup_s = time.perf_counter() - t
    # more untimed, checked warm-up ops, until the JIT and caches are warm
    for k in range(wl.warmup_ops):
        tracer.op = -2 - k
        wl.op(spark, tracer.op)
    log(f"[{wl.name}] set-up {setup_s:.2f}s (session {session_s:.2f}s), "
        f"then {wl.warmup_ops} warm-up ops in {time.perf_counter() - t - setup_s:.2f}s")

    counters = harness.SparkCounters(spark) if tracer.enabled else None
    traced_on = tracer.enabled
    lat, traced_lat, plain_lat, op_counters = [], [], [], []
    attempted = failed = 0
    # whole passes only: every run times the same mix of ops (the analyst
    # queries, the cycles of whole compaction periods), so medians compare.
    # A traced run makes at least two passes and traces every other op,
    # shifted by one in each odd pass: each op of a pass is traced once and
    # untraced once, and the untraced ones measure the tracing overhead in
    # the same process.
    deadline = time.perf_counter() + args.seconds
    min_ops = wl.pass_len * (2 if traced_on else 1)
    i = 0
    while i < min_ops or time.perf_counter() < deadline or i % wl.pass_len:
        tracer.enabled = traced = traced_on and (i + i // wl.pass_len) % 2 == 0
        tracer.sc = spark.sparkContext if traced else None
        tracer.op = i
        attempted += 1
        s = None
        try:
            with tracer.span("op", index=i):
                s = wl.op(spark, i)
        except StopIteration:  # the workload's input schedule is exhausted
            attempted -= 1
            break
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            failed += 1
            log(f"[{wl.name}] op {i} failed:\n{traceback.format_exc()}")
        if s is not None:
            lat.append(s)
            (traced_lat if traced else plain_lat).append(s)
            if traced:
                op_counters.append(counters.for_spans(tracer, i))
        i += 1
    tracer.enabled, tracer.sc = traced_on, None
    if not lat:
        raise RuntimeError("no op completed")
    busy = sum(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (harness.p50(lat), "s"),
        "op_p90_s": (harness.pct(lat, 90), "s"),
        "ops_per_s": (len(lat) / busy, "1/s"),
        "rows_per_s": (len(lat) * wl.op_rows / busy, "rows/s"),
    }
    log(f"[{wl.name}] {attempted} ops attempted, {failed} failed; op latency "
        f"p50 {metrics['op_p50_s'][0]:.3f}s p90 {metrics['op_p90_s'][0]:.3f}s "
        f"over {len(lat)} samples: " + " ".join(f"{x:.3f}" for x in lat))

    if traced_on:
        layer = {k: harness.p50(v) for k, v in tracer.layer.items()}
        totals = getattr(wl, "layer_totals", None)
        layer.update(totals() if totals else {})
        layer["session.start_s"] = session_s
        layer["process.peak_rss_mb"] = harness.peak_rss_mb(spark)
        for key in (*harness.COUNTERS, "driver_only_s", "idle_core_share"):
            layer[f"spark.{key}"] = harness.p50([c[key] for c in op_counters] or [0.0])
        overhead = (
            harness.p50(traced_lat) / harness.p50(plain_lat) - 1.0
            if traced_lat and plain_lat else 0.0
        )
        layer["trace.overhead_share"] = overhead
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {k: (layer.get(k, 0.0), _unit(k)) for k in PER_LAYER}
        log(f"[{wl.name}] tracing overhead on op p50: {overhead:+.1%} "
            f"({len(traced_lat)} traced vs {len(plain_lat)} untraced ops)")
        trace_path = os.path.join(HERE, "traces", f"{wl.name}-{args.seed}.json")
        tracer.write(trace_path, {
            "workload": wl.name, "seed": args.seed,
            "driver_totals": counters.driver_totals(),
            "op_counters": op_counters,
        })
        log(f"[{wl.name}] spans written to {trace_path}")
        for key, (v, u) in metrics.items():
            log(f"[{wl.name}]   {key} = {v:.6g} {u}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


_UNITS = (
    ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"), ("bytes_written", "bytes"), ("_ratio", "ratio"),
    ("_share", "ratio"), ("_per_candidate", "ratio"), ("_per_input_byte", "ratio"),
)


def _unit(key: str) -> str:
    for suffix, unit in _UNITS:
        if key.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        log(f"engine package {PACKAGE!r} not found next to {HERE}")
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file of Python, Spark and the JVM inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    sys.path.insert(0, HERE)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
