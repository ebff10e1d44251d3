"""Benchmark entry point: one workload, one seed, one timed run.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload etl_dirty_ext --seed 1 --seconds 10 --trace 0

The run generates its inputs from the seed into a temporary directory
under ``.perfbench/``, starts a Spark session on ``local[<cpus>]``, runs
the workload's first (cold) op, then runs ops one at a time until
``--seconds`` have passed. Every op's output is checked against the
generator's ledger.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced ops and reports the per-layer metrics of the traced
ones; a workload with a streaming variant then drains its inbox once
through the stream. The spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
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
sys.path.insert(0, HERE)
from spans import ROOT_SPAN, Tracer, layer_coverage  # noqa: E402

PACKAGE = "manufacturing_data_integration_tool_spark"
DRIVER_MEMORY = "2g"
WARMUP_OPS = 4
MIN_TIMED_OPS = 4
# layer spans must cover this share of a traced op's wall time; the rest
# is time spent outside every layer (the root span's self time)
COVERAGE_FLOOR = 0.95

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_s_p50": "s",
    "sink_bytes_per_input_byte": "ratio",
}
SPAN_SECONDS = {
    "config.load_s": "config",
    "validator.build_s": "validator",
    "validator.row_rules_s": "validator.row_rules",
    "readers.scan_s": "readers",
    "dataset_rules.duplicate_s": "dataset_rules.duplicate",
    "dataset_rules.unique_daily_s": "dataset_rules.unique_daily",
    "dataset_rules.zscore_s": "dataset_rules.zscore",
    "dataset_rules.referential_s": "dataset_rules.referential",
    "pipeline.self_s": "pipeline",
    "sinks.valid_write_s": "sinks.valid",
    "sinks.errors_write_s": "sinks.errors",
    "ops.text.ingest_s": "ops.text.ingest",
    "ops.dedup.minhash_s": "ops.dedup.minhash",
    "ops.dedup.candidates_s": "ops.dedup.candidates",
    "ops.graph.clusters_s": "ops.graph.clusters",
}
SPARK_LAYERS = ("readers", "validator", "dataset_rules", "pipeline", "sinks", "stream", "ops")
STREAM = ("stream.batches", "stream.plan_s_p50", "stream.add_batch_s_p50", "stream.rows_per_batch")
PER_LAYER = {
    **{k: "s" for k in SPAN_SECONDS},
    "validator.plan_exchanges": "count",
    "readers.scan_tasks": "count",
    "readers.input_bytes": "bytes",
    "dataset_rules.shuffle_write_bytes": "bytes",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.cache_bytes": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "archive.s_per_file": "s",
    "stream.batches": "count",
    "stream.plan_s_p50": "s",
    "stream.add_batch_s_p50": "s",
    "stream.rows_per_batch": "count",
    "ops.dedup.candidate_pairs": "count",
    "ops.dedup.planted_recall": "ratio",
    "ops.graph.clusters": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    **{f"spark.{layer}.{c}": u for layer in SPARK_LAYERS
       for c, u in (("tasks", "count"), ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"))},
    "trace.overhead_frac": "ratio",
}


def start_session(work: str):
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
    # no hsperfdata files in the system temp directory, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def plan_exchanges(spark, wl) -> int:
    """Exchanges in the executed plan of the workload's validation (0 for
    a workload that does not validate). Plans only; runs no job."""
    if not hasattr(wl, "validate_plan"):
        return 0
    plan = wl.validate_plan(spark)._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange" in line for line in plan.splitlines())


def spark_counts(spans, layer: str) -> dict:
    return {f"spark.{layer}.{c}": sum(s.counts[c] for s in spans if s.layer == layer)
            for c in ("tasks", "executor_run_s", "shuffle_write_bytes")}


def layer_shares(spans, op_s: float) -> dict:
    """Each layer's self time as a share of the op's wall time."""
    shares: dict[str, float] = {}
    for s in spans:
        if s.name != ROOT_SPAN:
            shares[s.layer] = shares.get(s.layer, 0.0) + s.self_s / op_s
    return shares


def layer_metrics(tracer, spans, res) -> dict:
    """Per-layer values of one traced op."""
    tracer.resolve(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def self_s(name):
        return sum(s.self_s for s in by_name.get(name, ()))

    def counts(pred, key):
        return sum(s.counts[key] for s in spans if pred(s))

    m = {k: self_s(name) for k, name in SPAN_SECONDS.items()}
    readers = by_name.get("readers", [])
    pipeline = by_name.get("pipeline", [])
    archive = by_name.get("archive", [])
    m["readers.scan_tasks"] = sum(s.counts["tasks"] for s in readers)
    m["readers.input_bytes"] = sum(s.counts["input_bytes"] for s in readers)
    m["dataset_rules.shuffle_write_bytes"] = counts(lambda s: s.layer == "dataset_rules",
                                                    "shuffle_write_bytes")
    m["pipeline.jobs"] = sum(s.jobs for s in pipeline)
    m["pipeline.stages"] = sum(s.stages for s in pipeline)
    m["pipeline.cache_bytes"] = sum(s.extra.get("cache_bytes", 0) for s in by_name.get("sinks.valid", ()))
    m["sinks.files_written"] = res.sink_files
    m["sinks.bytes_written"] = res.sink_bytes
    m["archive.s_per_file"] = self_s("archive") / len(archive) if archive else 0.0
    for k in ("ops.dedup.candidate_pairs", "ops.dedup.planted_recall", "ops.graph.clusters"):
        m[k] = res.layer.get(k, 0)
    for c in ("tasks", "failed_tasks", "executor_run_s", "gc_s", "shuffle_write_bytes"):
        m[f"spark.{c}"] = counts(lambda s: True, c)
    for layer in SPARK_LAYERS:
        m.update(spark_counts(spans, layer))
    failure = coverage_failure(spans, res.op_s)
    if failure:
        res.failures.append(failure)
    return m


def coverage_failure(spans, op_s: float) -> str | None:
    """A failed check when the layer spans of a traced op leave more of its
    wall time uncovered than ``COVERAGE_FLOOR`` allows."""
    coverage = layer_coverage(spans, op_s)
    if coverage < COVERAGE_FLOOR:
        return f"layer spans cover {coverage:.3f} of the traced op, below {COVERAGE_FLOOR}"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size as a multiple of the standard size (tests use a small one)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE} not found under {root}: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    wl = workloads.make(args.workload, args.scale)
    state_dir = os.path.join(root, ".perfbench")
    os.makedirs(state_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=state_dir)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    spark = None
    try:
        wl.prepare(work, args.seed)

        results, plain, traced, layers, shares = [], [], [], [], []
        tracer = None

        def run_op(use_trace: bool = False, op=wl.op):
            i = len(results)
            if use_trace:
                tracer.op = i
                first_span = len(tracer.spans)
            t = time.perf_counter()
            try:
                res = op(spark, i, tracer if use_trace else None)
            except Exception as exc:  # a raising op counts as failed; the run goes on
                print(f"op {i} raised: {exc!r}", file=sys.stderr)
                res = workloads.OpResult(op_s=time.perf_counter() - t, rows=0, sink_bytes=0,
                                         sink_files=0, failures=[f"raised {type(exc).__name__}"])
                use_trace = False
            results.append(res)
            return res, use_trace and tracer.spans[first_span:]

        t0 = time.perf_counter()
        spark = start_session(work)
        wl.setup(spark)
        run_op()
        setup_s = time.perf_counter() - t0
        # op times keep falling for about ten ops after the cold one while
        # the JIT compiles the engine, steeply over the first few; timing
        # those spread the median by 10-15% between runs. Warm-up ops are
        # checked, not timed
        for _ in range(WARMUP_OPS):
            run_op()

        if args.trace:
            tracer = Tracer(spark)
        start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - start
            if elapsed >= args.seconds and len(plain) + len(traced) >= MIN_TIMED_OPS and (
                    traced or not tracer):
                break
            if elapsed >= 3 * args.seconds + 60:  # traced ops keep failing
                break
            res, spans = run_op(use_trace=bool(tracer) and len(results) % 2 == 0)
            if spans:
                traced.append(res)
                layers.append(layer_metrics(tracer, spans, res))
                shares.append(layer_shares(spans, res.op_s))
            else:
                plain.append(res)
        stream = dict.fromkeys(STREAM, 0)
        stream.update(spark_counts([], "stream"))
        if tracer and hasattr(wl, "drain_stream"):
            res, spans = run_op(use_trace=True, op=wl.drain_stream)
            if spans:
                tracer.resolve(spans)
                stream.update(res.layer, **spark_counts(spans, "stream"))

        for k, r in enumerate(results):
            for f in r.failures:
                print(f"op {k}: {f}", file=sys.stderr)
        failed = sum(bool(r.failures) for r in results)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(results),
            "failed_op_frac": {"value": failed / len(results), "unit": "ratio"},
            # a run holds too few ops for a percentile with ten samples
            # beyond it; the tail shown is the slowest timed op
            "op_s_tail": {"value": max(r.op_s for r in plain), "unit": "s", "percentile": 100,
                          "samples": len(plain)},
            "peak_rss_mb": {"value": jvm_peak_rss_mb(spark), "unit": "MB"},
            "input_bytes": wl.input_bytes,
            "op_s": [round(r.op_s, 4) for r in results],
        }
        if tracer:
            info["layer_shares"] = {
                layer: round(statistics.median(sh.get(layer, 0.0) for sh in shares), 4)
                for layer in sorted({k for sh in shares for k in sh})
            }
            metrics = {k: statistics.median(m[k] for m in layers) if layers else 0
                       for k in PER_LAYER
                       if k not in stream and k not in ("validator.plan_exchanges", "trace.overhead_frac")}
            metrics.update(stream)
            metrics["validator.plan_exchanges"] = plan_exchanges(spark, wl)
            metrics["trace.overhead_frac"] = (
                statistics.median(r.op_s for r in traced) / statistics.median(r.op_s for r in plain) - 1
                if traced else 0)
            tracer.dump(os.path.join(state_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = PER_LAYER
        else:
            ok = [r for r in plain if not r.failures] or plain
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": sum(r.rows for r in plain if not r.failures) / sum(r.op_s for r in plain),
                "op_s_p50": statistics.median(r.op_s for r in plain),
                "sink_bytes_per_input_byte": statistics.median(r.sink_bytes for r in ok) / wl.input_bytes,
            }
            units = END_TO_END
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
