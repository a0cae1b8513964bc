"""Benchmark of the daily engagement run, end to end and per layer.

    python3 perfbench/run.py --workload batch_x10|day_small \
        --seed N --seconds S --trace 0|1 [--size full|smoke]

Run from the root of a checkout. One run: start a local Spark session
sized from the machine, generate the seeded inputs, set up the
workload (for the day workload: bootstrap every maintained artifact),
run ops back to back until `--seconds` have passed (at least one),
check the outputs outside the timed region, and print one JSON line.
An op takes far longer than the benchmark's `run_seconds`, so every
measured op is the first in its process, as in the reference's
deployment of one fresh container per run.

* `--trace 0` reports the end-to-end metrics (END_TO_END below).
* `--trace 1` wraps the engine's module functions in spans
  (spans.py) and reports the per-layer metrics (PER_LAYER), averaged
  over the ops. The spans are written to
  `.perfbench/traces/<workload>-seed<N>.json` in the checkout.

Everything the run writes goes under `.perfbench/` in the checkout;
the per-run work directory is removed at exit. An output mismatch
prints `"correct": false` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: (name, unit) of the end-to-end metrics, --trace 0
END_TO_END = [("e2e_s_p50", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB")]

#: span names, in the order they are reported
BATCH_SPANS = [
    "analysis.pipeline.generate_analysis_files", "analysis.spine",
    "labels.imputation.impute_message_grain",
    "labels.views.messages_by_column",
    "labels.views.participants_by_column", "analysis.automated",
    "sinks.exports.write_csv", "sinks.exports.write_jsonl"]
DAY_SPANS = [
    "streaming.ingest.commit", "analysis.runner.run_incremental_pipeline",
    "analysis.runner.record_stage", "stage.imputed", "stage.views",
    "stage.analysis", "stage.exports",
    "streaming.transform.refresh_transform_table",
    "labels.views.refresh_views", "streaming.drain.drain_changes_direct",
    "streaming.mv", "training.ranking", "training.ann_index"]
SPAN_FIELDS = [("self_s", "s"), ("build_s", "s"), ("jobs", "count"),
               ("exec_cpu_s", "s"), ("shuffle_mb", "MB"),
               ("spill_mb", "MB")]
#: spans that only wrap other spans or write one driver-side row:
#: their own jobs never spill, so `spill_mb` is left out to stay
#: within the 128 per-layer metrics
NO_SPILL = {"analysis.runner.run_incremental_pipeline",
            "analysis.runner.record_stage", "stage.imputed",
            "stage.views", "stage.analysis", "stage.exports"}
DAY_COUNTS = [(f"stage.{s}.touched_buckets", "count")
              for s in ("imputed", "views", "analysis", "exports")] + [
    ("feed.changes", "count"), ("feed.useful_ratio", "ratio")]
#: (name, unit) of the per-layer metrics, --trace 1
PER_LAYER = [(f"{span}.{f}", unit) for span in BATCH_SPANS + DAY_SPANS
             for f, unit in SPAN_FIELDS
             if not (f == "spill_mb" and span in NO_SPILL)] + DAY_COUNTS + [
    ("trace.e2e_s_p50", "s")]


def session_conf(work: str, cores: int) -> dict[str, str]:
    """Spark conf sized from the machine: every core, one shuffle
    partition per core, a driver heap of a quarter of physical RAM
    (1-8 GiB) under the serial collector, and every scratch path
    inside the work directory."""
    from engagement_data_pipeline_spark.session import _RUNTIME_CONF

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(8, ram // 4 // 2**30))
    tmp = os.path.join(work, "tmp")
    return {
        **_RUNTIME_CONF,
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for the spans
        "spark.ui.retainedJobs": "50000",
        "spark.ui.retainedStages": "50000",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            # the serial collector roughly halves the run-to-run spread
            # of op time and peak RSS against G1 (perfbench/README.md)
            "-XX:+UseSerialGC",
        "spark.executorEnv.PYTHONPATH": ROOT,
    }


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) has
    exited: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_x10", "day_small"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(
            ROOT, "engagement_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no engagement_data_pipeline_spark package "
              f"next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    t_setup = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package; temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, t_setup: float) -> int:
    from spans import Tracer
    from workloads import WORKLOADS

    cores = os.cpu_count() or 1
    conf = session_conf(work, cores)
    spark = start_session(conf)
    try:
        session_s = time.perf_counter() - t_setup
        wl = WORKLOADS[args.workload](work, args.size)
        sizes = wl.setup(spark, args.seed)
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer(spark, enabled=bool(args.trace))
        ops: list[float] = []
        counts: list[dict[str, float]] = []
        failed = 0
        t_window = time.perf_counter()
        with tracer.install(wl):
            while True:
                i = len(ops) + 1
                if i > 1:
                    wl.after_op(spark, i - 1)
                before = wl.manifests(spark) if args.trace else None
                tracer.begin_op()
                t0 = time.perf_counter()
                try:
                    wl.op(spark, tracer, i)
                except Exception:
                    traceback.print_exc()
                    failed = 1
                    break
                ops.append(time.perf_counter() - t0)
                tracer.collect_counters()
                if before is not None:
                    counts.append(wl.day_counts(before,
                                                wl.manifests(spark)))
                if time.perf_counter() - t_window >= args.seconds:
                    break
        attempted = len(ops) + failed
        peak_mb = peak_rss_mb(spark)  # before the check's own memory

        t_check = time.perf_counter()
        bad = ["op raised"] if failed else wl.check(spark)
        check_s = time.perf_counter() - t_check
        if bad:
            print(f"perfbench: output mismatch in {bad}", file=sys.stderr)
            failed = attempted
        info = {"workload": args.workload, "seed": args.seed,
                "size": args.size, "inputs": sizes, "cores": cores,
                "session": conf, "session_s": session_s, "ops_s": ops,
                "check_s": check_s, "mismatched": bad}
        p50 = statistics.median(ops) if ops else 0.0
        if args.trace:
            metrics = layer_metrics(tracer, counts, len(ops))
            metrics["trace.e2e_s_p50"] = (p50, "s")
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"{args.workload}-seed{args.seed}.json"),
                    "w") as f:
                json.dump({**info, "spans": tracer.dump(),
                           "day_counts": counts}, f, indent=1)
        else:
            metrics = {"e2e_s_p50": (p50, "s"),
                       "setup_s": (setup_s, "s"),
                       "peak_rss_mb": (peak_mb, "MB")}
        print("# perfbench " + json.dumps(info))
        print(json.dumps({
            "correct": not bad, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
        return 1 if bad else 0
    finally:
        stop_session(spark)


def layer_metrics(tracer, counts: list[dict[str, float]],
                  n_ops: int) -> dict[str, tuple[float, str]]:
    """Every PER_LAYER metric: span fields and day counts averaged per
    op; layers idle on this workload report 0."""
    per_span = tracer.per_op(max(1, n_ops))
    out = {}
    for name, unit in PER_LAYER:
        span, _, fld = name.rpartition(".")
        if counts and name in counts[0]:
            out[name] = (statistics.fmean(c[name] for c in counts), unit)
        else:
            out[name] = (per_span.get(span, {}).get(fld, 0.0), unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
