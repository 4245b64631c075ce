#!/usr/bin/env python3
"""Layered benchmark for the extraction, evaluation and curation pipelines.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  The benchmark imports the package from
that checkout (never from anywhere else), makes its inputs from
``--seed`` under perfbench/.data, and keeps Spark's scratch files under
perfbench/.run.

``--trace 0``: set up (a cold session start in a fresh JVM, and input
binding) twice and take the median, check where the Python
workers import the package from, then run the workload back to back for
``--seconds`` (at least once) and report the end-to-end metrics.
``--trace 1``: the same set-up and one untraced reference run, then a
traced pass that calls every layer in pipeline order, then one more
untraced run (warm, as the traced pass is), and report the per-layer
metrics.

The last line of stdout is one compact JSON object; the full record
(iterations, spans, stage totals) goes to perfbench/.out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN_DIR = os.path.join(BENCH_DIR, ".run")
DATA_DIR = os.path.join(BENCH_DIR, ".data")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
PACKAGE = "deepseek_ocr_omnidocbench_spark"
SETUP_CYCLES = 2
HEAP_MB = 2048  # the driver JVM's fixed heap


def _die(msg: str, code: int = 2):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(code)


def _environment() -> None:
    """Point Spark, its JVM and its Python workers at this checkout, and
    keep every file they write inside it.  Must run before pyspark is
    imported (it reads TMPDIR when it launches the JVM)."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(RUN_DIR, d))
    os.makedirs(DATA_DIR, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=%s" % tmp
    os.environ["SPARK_DRIVER_MEM"] = "%dm" % HEAP_MB
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


def _import_guard():
    """The package must come from this checkout, in the driver ..."""
    try:
        pkg = __import__(PACKAGE)
    except ImportError as e:
        _die("cannot import %s from %s: %s" % (PACKAGE, ROOT, e))
    here = os.path.realpath(ROOT) + os.sep
    if not os.path.realpath(pkg.__file__).startswith(here):
        _die("%s imported from %s, not from %s" % (PACKAGE, pkg.__file__, ROOT))
    return os.path.realpath(pkg.__file__)


def _worker_guard(spark, cores: int, driver_file: str) -> None:
    """... and in Spark's Python workers (an Arrow UDF reports where it
    imported the package from)."""
    from pyspark.sql import functions as F

    def where(x):
        import os as _os

        import deepseek_ocr_omnidocbench_spark as m
        return x.map(lambda _: _os.path.realpath(m.__file__))

    udf = F.pandas_udf(where, "string")
    seen = {r[0] for r in spark.range(cores).repartition(cores)
            .select(udf("id")).distinct().collect()}
    if seen != {driver_file}:
        _die("Python workers import %s from %s, the driver from %s"
             % (PACKAGE, sorted(seen), driver_file))


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


# A fixed piece of work that shares no code with the program: an
# interpreter loop and a sort.  Its CPU time tracks how fast this host's
# cores run at the moment; on a shared machine that changes by half and
# more within minutes, as neighbours load the same physical cores, and
# CPU seconds of the program stretch with it.
_SPEED_LOOP = """
import random, time
t = time.process_time()
x = 0
for i in range(4_000_000):
    x = (x * 31 + i) % 1000003
r = random.Random(1)
a = [r.random() for _ in range(600_000)]
a.sort()
print(time.process_time() - t)
"""
# CPU seconds of the speed loop that the timed metrics are scaled to: a
# unit, not a measurement (about what it cost on the 4-vCPU host of the
# baseline in README.md)
SPEED_REF_S = 0.6


def _speed_loop_cpu_s(cores: int) -> float:
    """Median CPU seconds of the speed loop, run on every core at once."""
    procs = [subprocess.Popen([sys.executable, "-c", _SPEED_LOOP], stdout=subprocess.PIPE,
                              text=True) for _ in range(cores)]
    return statistics.median(float(p.communicate()[0]) for p in procs)


def _conf() -> dict[str, str]:
    return {
        # a pre-touched fixed heap: the heap is then a constant HEAP_MB of
        # the resident set, which peak_rss_mb leaves out, instead of a size
        # that G1 picks afresh each run.  A fixed set of JIT threads:
        # tree_cpu_s leaves their time out
        "spark.driver.extraJavaOptions": "-Xms%dm -XX:+AlwaysPreTouch "
                                         "-XX:-UseDynamicNumberOfCompilerThreads" % HEAP_MB,
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(RUN_DIR, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the Python
    workers it forked have ended; the next get_spark launches a new JVM."""
    from pyspark import SparkContext

    from perfbench.sparkstats import process_tree, wait_gone

    gateway = SparkContext._gateway
    pids = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait()
    wait_gone(pids)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _environment()
    driver_file = _import_guard()
    from deepseek_ocr_omnidocbench_spark.session import get_spark

    from perfbench.sparkstats import (
        JobCount, RssSampler, Tracer, event_log_totals, tree_cpu_s)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die("unknown workload %r (have %s)" % (args.workload, sorted(WORKLOADS)))
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](DATA_DIR, args.seed, cores)
    rec = {"workload": wl.name, "seed": args.seed, "size": wl.size,
           "cores": cores, "trace": args.trace}

    # -- set-up, several times: a cold session start in a fresh JVM (as a
    #    batch job pays it) and input binding, timed in CPU seconds of this
    #    process and the JVM tree (wall time on a shared host swings with
    #    the neighbours).  The first cycle also makes the inputs, timed
    #    apart: it is the benchmark's work, not the program's
    speed = [_speed_loop_cpu_s(cores)]
    cycles, cycles_cpu, gen_s, gen_cpu = [], [], 0.0, 0.0
    for i in range(SETUP_CYCLES):
        if i:
            _stop_jvm(spark)
        t0, c0 = time.perf_counter(), time.process_time()
        spark = get_spark(cores=cores, extra_conf=_conf())
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if i == 0:
            g0, gc0 = time.perf_counter(), time.process_time() + tree_cpu_s(jvm_pid)
            wl.prepare(spark)
            gen_s = time.perf_counter() - g0
            gen_cpu = time.process_time() + tree_cpu_s(jvm_pid) - gc0
        wl.load(spark)
        cycles.append(time.perf_counter() - t0 - gen_s * (i == 0))
        cycles_cpu.append(time.process_time() - c0 + tree_cpu_s(jvm_pid)
                          - gen_cpu * (i == 0))
    # the first Python-worker job: worker spawn is paid before timing
    t0 = time.perf_counter()
    _worker_guard(spark, cores, driver_file)
    guard_s = time.perf_counter() - t0
    wl.expect(spark)
    rec.update(setup_cycles_s=cycles, setup_cycles_cpu_s=cycles_cpu,
               input_gen_s=gen_s, guard_s=guard_s)

    # -- measure: no warm-up.  Every run of a workload is the first in its
    #    Spark application, as a batch job's is, so plan compilation and
    #    JIT are part of what is measured, the same way on every commit.
    problems: list[str] = []
    attempted = failed = 0
    speed.append(_speed_loop_cpu_s(cores))
    cpu0 = _cpu_jiffies()
    with RssSampler(jvm_pid) as rss:
        iters: list[float] = []
        iters_cpu: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while not iters or time.perf_counter() < deadline:
            t0, c0 = time.perf_counter(), tree_cpu_s(jvm_pid)
            out = wl.run_once(spark)
            iters.append(time.perf_counter() - t0)
            iters_cpu.append(tree_cpu_s(jvm_pid) - c0)
            f, p = wl.check(out)
            attempted, failed = attempted + wl.size, failed + f
            problems += p
            if args.trace:
                break  # one reference run for the tracing overhead

        if args.trace:
            tracer = Tracer(spark)
            t0 = time.perf_counter()
            layers, roots, f, p = wl.trace(spark, tracer)
            traced_wall = sum(tracer.seconds(r) for r in roots)
            attempted, failed = attempted + wl.size, failed + f
            problems += p
            trace_s = time.perf_counter() - t0
            # the tracing overhead, like against like: an untraced run that
            # is warm, as the traced stages are.  Its output must repeat the
            # reference run's
            t0 = time.perf_counter()
            out = wl.run_once(spark)
            warm_s = time.perf_counter() - t0
            f, p = wl.check(out)
            attempted, failed = attempted + wl.size, failed + f
            problems += p
    problems += wl.check_repeatable()
    cpu1 = _cpu_jiffies()
    speed.append(_speed_loop_cpu_s(cores))
    # CPU seconds of the set-up and the runs, scaled to the host speed
    # SPEED_REF_S stands for
    scale = SPEED_REF_S / statistics.median(speed)
    rec.update(iterations_s=iters, iterations_cpu_s=iters_cpu, speed_loop_cpu_s=speed,
               rows_per_wall_s=wl.size / statistics.median(iters),
               peak_rss_total_mb=rss.peak_mb,
               # share of CPU time the hypervisor took from this machine
               # while the workload ran: a noisy-neighbour gauge
               steal_frac=(cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1))

    app_id = spark.sparkContext.applicationId
    _stop_jvm(spark)  # also flushes the event log

    if args.trace:
        stage_spans = [s for s in tracer.spans if s["parent"] is not None
                       and tracer.spans[s["parent"]]["name"] in roots]
        per_layer = dict.fromkeys(LAYER_UNITS, 0)  # bypassed layers read 0
        per_layer.update(layers)
        event_log = os.path.join(RUN_DIR, "events", app_id)
        for k, v in per_layer.items():
            if isinstance(v, JobCount):
                per_layer[k] = event_log_totals(
                    event_log, tracer.tree_groups(v.spans))["jobs"] / v.per
        totals = event_log_totals(event_log, tracer.tree_groups(roots))
        rec["spark_totals"] = totals
        per_layer.update({"spark." + k: totals[k] for k in (
            "jobs", "scan_bytes", "python_sent_bytes", "python_received_bytes",
            "eval_python_s", "shuffle_bytes")})
        per_layer["trace.unattributed_s"] = traced_wall - sum(
            s["end"] - s["start"] for s in stage_spans)
        per_layer["trace.overhead_s"] = traced_wall - warm_s
        per_layer["setup.session_start_s"] = statistics.median(cycles)
        per_layer["setup.worker_guard_s"] = guard_s
        per_layer["run.wall_s"] = statistics.median(iters)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in per_layer.items()}
        rec.update(per_layer=per_layer, spans=tracer.spans, trace_s=trace_s,
                   warm_run_s=warm_s)
    else:
        metrics = {
            "rows_per_cpu_s": {"value": wl.size / (statistics.median(iters_cpu) * scale),
                               "unit": "1/s"},
            "setup_s": {"value": statistics.median(cycles_cpu) * scale, "unit": "s"},
            # resident memory beyond the fixed heap: JVM native memory
            # (metaspace, code, threads, Arrow and other off-heap buffers)
            # and the Python workers
            "peak_rss_mb": {"value": rss.peak_mb - HEAP_MB, "unit": "MB"},
        }
        print("perfbench: %s rows/s wall %.3f (median run %.2f s), steal %.3f, "
              "speed loop %s s"
              % (wl.name, rec["rows_per_wall_s"], statistics.median(iters),
                 rec["steal_frac"], " ".join("%.3f" % v for v in speed)), file=sys.stderr)

    rec.update(problems=problems, metrics=metrics)
    path = os.path.join(OUT_DIR, "%s-s%d-trace%d.json" % (wl.name, args.seed, args.trace))
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    for msg in problems:
        print("perfbench: CHECK FAILED: %s" % msg, file=sys.stderr)
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    return 0 if correct else 1


# Per-layer metrics in BENCHMARK.json order.  A traced run reports all of
# them; layers its workload bypasses read 0.
LAYER_UNITS = {
    "extract_pipeline.filter_s": "s",
    "extract_pipeline.page_md_s": "s",
    "extract_pipeline.outside_kernel_share": "ratio",
    "html_extract.parse_cpu_s": "s",
    "html_extract.prune_cpu_s": "s",
    "html_extract.order_cpu_s": "s",
    "html_extract.emit_cpu_s": "s",
    "html_extract.giant_cpu_share": "ratio",
    "pdf_extract.cpu_s": "s",
    "extract_pipeline.documents_s": "s",
    "assemble.assemble_s": "s",
    "textstats.quality_lang_s": "s",
    "lineage.fresh_s": "s",
    "lineage.resume_s": "s",
    "lineage.bucket_s_p50": "s",
    "lineage.bucket_s_max": "s",
    "lineage.jobs_per_bucket": "count",
    "lineage.bytes_written": "bytes",
    "lineage.resume_recomputed_buckets": "count",
    "evaluate.load_s": "s",
    "evaluate.fixed_s": "s",
    "eval_harness.match_s": "s",
    "eval_harness.match_rows": "count",
    "metrics_report.arbitrate_s": "s",
    "metrics_report.score_s": "s",
    "metrics_report.reports_s": "s",
    "teds.cpu_s": "s",
    "teds.pairs": "count",
    "curation.gates_s": "s",
    "curation.keep_frac": "ratio",
    "curate.url_unique_s": "s",
    "curate.pack_s": "s",
    "dedup.lsh_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "ratio",
    "dedup.cc_s": "s",
    "dedup.cc_jobs": "count",
    "spark.jobs": "count",
    "spark.scan_bytes": "bytes",
    "spark.python_sent_bytes": "bytes",
    "spark.python_received_bytes": "bytes",
    "spark.eval_python_s": "s",
    "spark.shuffle_bytes": "bytes",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
    "setup.session_start_s": "s",
    "setup.worker_guard_s": "s",
    "run.wall_s": "s",
}



if __name__ == "__main__":
    sys.exit(main())
