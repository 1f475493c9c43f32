"""Benchmark entry point: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run generates its inputs from the seed
under ``.bench_work/``, starts one Spark session on ``local[<cores>]``,
stages what the workload needs, runs a cold pass, then a fixed
number of warm passes (more while ``--seconds`` have not passed),
checks the outputs independently of the program, and prints one JSON
object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics (no spans are recorded).
``--trace 1`` installs span wrappers around the program's public functions,
alternates untraced and traced warm passes of the same work (untraced,
traced, untraced, ...), and reports the per-layer metrics of the traced
passes, each layer's self time, and the tracing overhead (the traced warm
passes' median wall against the untraced ones', which bracket them).  The line before the JSON
carries the workload's own metric names (with tail percentile and sample
count) and the output-check outcome.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: JVM heap: the inputs are small, and a fixed cap keeps the JVM's resident
#: set (``peak_rss_mb``) from following the collector's heap sizing
JVM_HEAP = "1g"
#: staging repetitions whose median enters ``setup_s``
STAGE_REPEATS = 2
#: warm passes every run makes, so a run's samples never depend on how many
#: passes happened to fit in ``--seconds`` (later passes run warmer)
WARM_PASSES = 2
#: warm passes a traced run makes: a traced pass between two untraced ones,
#: to measure the tracing overhead
TRACED_WARM_PASSES = 3

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "peak_rss_mb": "MB", "op_success_share": "ratio",
    "store_bytes_per_input_byte": "ratio",
}


#: span-name prefixes whose self time is reported (``bench`` is the
#: benchmark's own work inside a pass: landing files, clearing caches)
LAYERS = ("bench", "session", "runner", "monitors", "sources", "operators",
          "streaming", "queries")


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric name with its unit, as BENCHMARK.json lists
    them; a workload that leaves a layer idle reports it as 0."""
    from workloads import CATALOG_QUERIES, FAMILIES

    spec = {"session.get_spark_s": "s",
            "queries.artifact_build_s": "s",
            "queries.artifact_build.hdr_log_s": "s"}
    for q in CATALOG_QUERIES:
        spec.update({f"queries.{q}.p50_s": "s", f"queries.{q}.jobs": "count",
                     f"queries.{q}.tasks": "count"})
    spec.update({
        "sources.sms_catalog_s": "s", "sources.versioned.read_current_s": "s",
        "sources.sms_lines_parsed": "count", "sources.sms_parse_useful_ratio": "ratio",
        "sources.fits_read_s": "s", "sources.fits_files_per_s": "1/s",
        "sources.store_bytes": "B", "sources.store_versions": "count",
        "sources.store_bytes_per_input_byte": "ratio",
        "operators.merge_into_path.sms_file_stats_s": "s",
        "operators.merge_into_path.sms_exposures_s": "s",
        "operators.merge_into_path.dark_s": "s",
        "operators.merge_write_amp": "ratio",
        "streaming.fits_microbatch_s": "s", "streaming.offset_bytes": "B",
        "monitors.run_monitors_s": "s",
    })
    for fam in FAMILIES:
        spec.update({f"monitors.{fam}.s": "s", f"monitors.{fam}.rows_out": "count",
                     f"monitors.{fam}.jobs": "count"})
    spec.update({"sources.write_results_csv_s": "s", "runner.self_s": "s",
                 "spark.jobs": "count", "spark.stages": "count",
                 "spark.tasks": "count", "spark.failed_tasks": "count"})
    for layer in LAYERS:
        spec[f"self.{layer}_s"] = "s"
    spec.update({"trace.overhead_share": "ratio", "trace.spans": "count"})
    return spec


def _install_spans(tracer) -> None:
    """Span wrappers around the public calls the runner and the benchmark
    make, in the runner's order: session, monitors, sinks, SMS catalog and
    parse, versioned reads, merges."""
    from workloads import family_of

    def table_of(a, k):
        return {"table": os.path.basename(a[1].rstrip("/")).replace(".parquet", "")}

    def rows_written(version, a, k):
        import pyarrow.parquet as pq

        vdir = os.path.join(a[1], f"v={version}")
        return {"rows_written": sum(pq.ParquetFile(os.path.join(vdir, f)).metadata.num_rows
                                    for f in os.listdir(vdir) if f.endswith(".parquet"))}

    tracer.wrap("cosmo_spark.session", "get_spark")
    tracer.wrap("cosmo_spark.monitors", "run_monitors")
    tracer.wrap("cosmo_spark.sources.files", "write_results_csv",
                attrs_fn=lambda a, k: {"family": family_of(a[1]), "path": a[1]})
    tracer.wrap("cosmo_spark.sources.sms", "sms_catalog")
    tracer.wrap("cosmo_spark.sources.sms", "find_new")
    tracer.wrap("cosmo_spark.sources.sms", "parse_sms_reports")
    tracer.wrap("cosmo_spark.sources.versioned", "read_current")
    tracer.wrap("cosmo_spark.operators.merge", "merge_into_path",
                attrs_fn=table_of, post_fn=rows_written)


def _peak_rss_mb(spark) -> float:
    """JVM high-water resident set plus this Python process's maximum RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _collect_garbage(spark) -> None:
    """Full collections in the JVM and in Python before a warm pass, so no
    pass pays for garbage an earlier one left behind."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cosmo_spark.runner  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS, tail_of

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2

    os.chdir(ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file of Spark, its JVMs (the launcher's too) and
    # Python inside the checkout
    pythonpath = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.update(SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
                      JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                      PYTHONPATH=pythonpath)
    tempfile.tempdir = None

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    tracer = Tracer()
    wl = WORKLOADS[args.workload](work, args.seed, master, tracer)
    spark = None
    try:
        wl.generate()
        if args.trace:
            _install_spans(tracer)
            tracer.active = True
        from cosmo_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name="perfbench", master=master, shuffle_partitions=cores,
            extra_conf={"spark.driver.memory": JVM_HEAP})
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.bind(spark)
        stage_s = []
        for _ in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            wl.stage(spark)
            stage_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(stage_s)

        with tracer.span("bench.pass", phase="cold"):
            cold = wl.run_pass(spark, 0)
        warm, traced, untraced = [], [], []
        t_warm = time.perf_counter()
        min_warm = TRACED_WARM_PASSES if args.trace else WARM_PASSES
        while len(warm) < min_warm or time.perf_counter() - t_warm < args.seconds:
            on = bool(args.trace) and len(warm) % 2 == 1
            _collect_garbage(spark)
            tracer.active = on
            with tracer.span("bench.pass", phase="warm"):
                p = wl.run_pass(spark, len(warm) + 1)
            tracer.active = False
            warm.append(p)
            (traced if on else untraced).append(p)
        n_checks, problems = wl.check(spark)
        peak_mb = _peak_rss_mb(spark)

        passes = [cold] + warm
        attempted = sum(p.attempted for p in passes) + n_checks
        failed = sum(p.failed for p in passes) + len(problems)
        ops = wl.op_samples(warm)
        tail, pct = tail_of(ops)
        detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
                  "input_bytes": wl.input_bytes, "warm_passes": len(warm),
                  "op_samples": len(ops), "op_tail_pct": pct,
                  "failed_op_share": failed / attempted,
                  "checks": {"attempted": n_checks, "problems": problems}}
        detail.update(wl.detail(cold, warm))
        if args.trace:
            metrics = _layer_metrics(tracer, wl, traced, untraced, session_s)
        else:
            metrics = {
                "setup_s": setup_s, "cold_pass_s": cold.wall,
                "warm_pass_s": statistics.median(p.wall for p in warm),
                "op_p50_s": statistics.median(ops) if ops else 0.0,
                "op_tail_s": tail, "peak_rss_mb": peak_mb,
                "op_success_share": 1.0 - failed / attempted,
                "store_bytes_per_input_byte": wl.stored_bytes_per_input_byte(warm[-1]),
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".bench_work",
                                     f"spans-{args.workload}-{args.seed}.jsonl"))
        print("perfbench detail: " + json.dumps(detail))
        print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        tracer.unwrap()
        if spark is not None:
            _stop(spark)
        wl.cleanup()
        shutil.rmtree(work, ignore_errors=True)


def _layer_metrics(tracer, wl, traced, untraced, session_s) -> dict:
    spans = tracer.finished()
    # only spans inside traced warm passes feed the per-pass figures
    windows = [(s.start, s.end) for s in spans
               if s.name == "bench.pass" and s.attrs.get("phase") == "warm"]
    in_warm = [s for s in spans if any(a <= s.start and s.end <= b for a, b in windows)]
    per_pass = max(len(traced), 1)
    spec = per_layer_spec()
    out = {k: 0.0 for k in spec}
    out["session.get_spark_s"] = next(
        (s.end - s.start for s in spans if s.name == "session.get_spark"), session_s)
    out.update(wl.layers(in_warm, traced))
    totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for s in spans:
        if s.name == "bench.pass" and s.attrs.get("phase") == "warm":
            for k, v in tracer.counts(s).items():
                totals[k] += v
    for k, v in totals.items():
        out[f"spark.{k}"] = v / per_pass
    from spans import self_times

    for layer, v in self_times(in_warm).items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = v / per_pass
    out["runner.self_s"] = out["self.runner_s"]
    t_med = statistics.median(p.wall for p in traced)
    u_med = statistics.median(p.wall for p in untraced)
    out["trace.overhead_share"] = (t_med - u_med) / u_med
    out["trace.spans"] = len(in_warm) / per_pass
    return {k: {"value": v, "unit": spec[k]} for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
