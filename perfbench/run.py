"""Flagship benchmark: the pages → features → as-of job on local[nproc].

    python3 perfbench/run.py --workload small_pages --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client: the next job starts only after the
previous one has fully materialized):

* ``small_pages`` — 60,000 pages of about 600 B, 3 crawls per url,
  encodings rotating UTF-8 / UTF-16LE+BOM / UTF-16BE+BOM.  Bound by
  per-row framework cost: scan, shuffle, persist, the as-of cogroup.
* ``large_pages`` — 4,000 pages of about 10 KB, 90% BOM-less UTF-8,
  UTF-16/32 with a BOM otherwise, 1% hostile rows, Zipf crawls per url.
  Bound by the decode/extract/histogram kernels.

``--trace 0`` times the flagship job for ``--seconds`` and prints the
end-to-end metrics; ``--trace 1`` runs the per-layer split instead
(layers.py).  Both check the output against the oracle (oracle.py),
and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is 0 only when every operation succeeded and the oracle
accepted the output; without the ``ultraviolet_spark`` package next to
this directory the benchmark exits 2.

Inputs are generated from ``--seed`` by gen.py and cached under
``perfbench/.cache``; scratch files go to ``perfbench/.work/<pid>`` and
are removed at exit.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"small_pages": "small", "large_pages": "large"}
SETUP_CYCLES = 3          # setup_s is the median of this many set-ups
WARMUP_FRACTION = 0.02    # input share read by each set-up's warm-up job
MIN_OPS = 3
OP_TIMEOUT_S = 90         # an operation still running then is cancelled
PREFIX_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def session_conf(work: str) -> dict:
    return {
        # workers import the package from this checkout, wherever the
        # benchmark is started from
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def start_session(work: str, cores: int):
    from ultraviolet_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext, then the gateway JVM, and wait until the
    JVM and every process it started (the Python daemon and workers)
    have exited."""
    from pyspark import SparkContext

    from probe import alive, tree_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    children = tree_pids(proc.pid)[1:] if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the daemon and workers exit once the JVM is gone; kill what is
    # still running after 30 s
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline + 10:
        children = [p for p in children if alive(p)]
        if time.monotonic() > deadline:
            for p in children:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_op(spark, build, group: str) -> float:
    """Run one job to completion under ``group``; returns its wall time.
    A job still running after OP_TIMEOUT_S is cancelled (and raises).
    Before the clock starts, a full JVM GC brings the heap back to its
    live size, so every job starts from the same heap state and its peak
    memory does not depend on the garbage earlier jobs left."""
    sc = spark.sparkContext
    sc._jvm.System.gc()
    sc.setJobGroup(group, group, interruptOnCancel=True)
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
    timer.start()
    try:
        t0 = time.perf_counter()
        materialize(build())
        return time.perf_counter() - t0
    finally:
        timer.cancel()
        spark.catalog.clearCache()


def setup(args, work: str, cores: int, cycles: int):
    """Materialize the input, then start a session and warm it up with
    one flagship job over a WARMUP_FRACTION sample of the input,
    ``cycles`` times (restarting the session in between).  The first
    cycle also pays input generation, imports and the JVM launch.
    Returns (spark, pages_path, props, cycle times)."""
    import gen

    t0 = time.perf_counter()
    pages_path, props, hit = gen.materialize(WORKLOADS[args.workload], args.seed)
    log(f"input {os.path.basename(pages_path)} cache_hit={hit} {json.dumps(props)}")
    from ultraviolet_spark.pipeline import flagship_enriched

    times, spark = [], None
    for k in range(cycles):
        if spark is not None:
            spark.stop()
        spark = start_session(work, cores)
        run_op(spark, lambda: flagship_enriched(
            spark.read.parquet(pages_path).sample(WARMUP_FRACTION, seed=k)),
            f"warmup-{k}")
        times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
    return spark, pages_path, props, times


def timed_loop(spark, pages_path: str, seconds: float, tree, label: str):
    """Closed loop of flagship jobs for ``seconds`` (at least MIN_OPS).
    Returns ([(wall_s, cpu_s, peak_pss_bytes)], attempted, failed)."""
    from ultraviolet_spark.pipeline import flagship_enriched

    samples, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or attempted < MIN_OPS:
        attempted += 1
        tree.mark()
        try:
            wall = run_op(spark, lambda: flagship_enriched(
                spark.read.parquet(pages_path)), f"{label}-{attempted}")
        except Exception as e:            # counted, reported, loop goes on
            failed += 1
            log(f"operation {attempted} failed: {type(e).__name__}: {e}")
            continue
        cpu, peak = tree.window()
        samples.append((wall, cpu, peak))
    return samples, attempted, failed


def oracle_check(spark, pages_path: str) -> tuple[list[str], dict]:
    """Run the flagship (and its extract stage) once more, collect the
    outputs and compare them with the oracle.  Returns (errors,
    {"asof.match_rate", "asof.leakage_violations"})."""
    import oracle
    from ultraviolet_spark.functions.udfs import extract_stage
    from ultraviolet_spark.operators.asof import temporal_leakage_audit
    from ultraviolet_spark.pipeline import flagship_enriched

    # the expected rows are computed while Spark runs the two jobs
    with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
        expected = pool.submit(oracle.expected_rows, pages_path)
        pages = spark.read.parquet(pages_path)
        spark.sparkContext.setJobGroup("oracle", "oracle")
        ext = extract_stage(pages, with_features=True).select(
            "url", "warc_ts", "text", "n_replacements").toPandas()
        out = flagship_enriched(pages).toPandas()
        spark.catalog.clearCache()
        exp = expected.result()
    errs = oracle.check_extract(exp, ext) + oracle.check_features(exp, out)
    leak = temporal_leakage_audit(
        spark.createDataFrame(oracle.leakage_frame(out),
                              schema="warc_ts timestamp, feature_ts timestamp"),
        ts_col="warc_ts", feature_ts_col="feature_ts", label="flagship",
    ).collect()[0]["n_violations"]
    if leak:
        errs.append(f"temporal leakage: {leak} rows")
    if not errs:
        missed = oracle.self_test(exp, ext, out)
        errs += [f"oracle self-test: perturbation '{m}' was not rejected"
                 for m in missed]
    return errs, {"asof.match_rate": float(out["first_text_len"].notna().mean()),
                  "asof.leakage_violations": int(leak)}


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(samples, props, setup_times) -> dict:
    pages = props["pages"]
    wall = statistics.median(s[0] for s in samples)
    return {
        "pages_per_s": metric(pages / wall, "pages/s"),
        "cpu_s_per_kpage": metric(
            statistics.median(s[1] for s in samples) / pages * 1000, "s/kpage"),
        "peak_mem_mb": metric(
            statistics.median(s[2] for s in samples) / 2**20, "MiB"),
        "setup_s": metric(statistics.median(setup_times), "s"),
    }


def per_layer(spark, pages_path: str, props: dict, work: str) -> dict:
    import layers
    from probe import SparkRest

    rest = SparkRest(spark.sparkContext)
    builds = layers.prefixes()
    wall: dict[str, list[float]] = {name: [] for name in ["e2e", *builds, "traced"]}
    busy = []
    # interleaved passes: a slow minute on the host hits one pass, not
    # one layer
    with layers.TracedExtract(spark.sparkContext) as tx:
        for i in range(PREFIX_PASSES):
            for name in wall:
                build = builds["full" if name in ("e2e", "traced") else name]
                before = tx.busy.value
                tx.active = name == "traced"
                wall[name].append(run_op(
                    spark, lambda: build(spark.read.parquet(pages_path)),
                    f"{name}-{i}"))
                if name == "traced":
                    busy.append(tx.busy.value - before)
    if not tx.calls:
        log("warning: the flagship did not call pipeline.extract_stage; "
            "udfs.worker_busy_s reads 0")
    rest.drain()

    med = {k: statistics.median(v) for k, v in wall.items()}
    e2e_wall = med["e2e"]
    m = {
        "sources.scan_s": med["scan"],
        "udfs.extract_stage_s": med["extract"] - med["scan"],
        "windows.features_s": med["features"] - med["extract"],
        "asof.join_s": med["full"] - med["features"],
    }
    m["sources.input_bytes"] = sum(
        os.path.getsize(os.path.join(pages_path, f))
        for f in os.listdir(pages_path) if f.endswith(".parquet"))

    # Arrow crossing: the fused scan+mapInArrow stage's task time minus
    # the scan's own task time, the workers' compute and the shuffle write
    crossing = []
    for i in range(PREFIX_PASSES):
        st = rest.scan_stage(f"traced-{i}")
        scan_run = rest.scan_stage(f"scan-{i}")["executorRunTime"] / 1e3
        crossing.append(st["executorRunTime"] / 1e3 - scan_run - busy[i]
                        - st["shuffleWriteTime"] / 1e9)
    m["udfs.worker_busy_s"] = statistics.median(busy)
    m["udfs.crossing_s"] = statistics.median(crossing)

    feat_tot = rest.totals("features-0")
    full_tot = [rest.totals(f"full-{i}") for i in range(PREFIX_PASSES)]
    m["windows.exchanges"] = rest.exchanges("features-0")
    m["windows.shuffle_write_bytes"] = feat_tot["shuffle_write_bytes"]
    m["asof.exchanges"] = rest.exchanges("full-0") - m["windows.exchanges"]
    m["asof.shuffle_write_bytes"] = (full_tot[0]["shuffle_write_bytes"]
                                     - feat_tot["shuffle_write_bytes"])
    m["asof.task_skew"] = statistics.median(
        rest.result_stage_skew(f"full-{i}") for i in range(PREFIX_PASSES))
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes",
              "shuffle_read_bytes", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = statistics.median(t[k] for t in full_tot)

    m.update(layers.kernel_split(pages_path))
    m.update(layers.snapshot_layer(spark, pages_path,
                                   os.path.join(work, "warehouse"),
                                   props["html_bytes"], materialize))
    m["trace.unaccounted_ratio"] = (e2e_wall - med["full"]) / e2e_wall
    m["trace.overhead_ratio"] = med["traced"] / e2e_wall - 1
    return m


def unit_of(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_s") or "stage_s." in name:
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_ratio", "task_skew", "match_rate", "per_input_byte")):
        return "ratio"
    if name.endswith("load1"):
        return "load"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ultraviolet_spark")):
        log(f"no ultraviolet_spark package in {ROOT}: "
            "run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", str(os.getpid()))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # the JVMs (spark-submit's launcher and the driver), the Python
    # workers and their libraries write temp files here, and no JVM
    # writes a perf-data file to the system temp directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]))

    from probe import ProcTree, host_delta, host_snapshot

    # the engine's malloc settings (session.get_spark gives them to the
    # workers through the environment) also for the kernels timed here
    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-1, 1 << 30)      # M_TRIM_THRESHOLD
        libc.mallopt(-3, 1 << 30)      # M_MMAP_THRESHOLD
    except OSError:                    # not glibc: keep its defaults
        pass

    cores = len(os.sched_getaffinity(0))
    host0 = host_snapshot()
    tree = None
    try:
        spark, pages_path, props, setup_times = setup(
            args, work, cores, SETUP_CYCLES if not args.trace else 1)
        log(f"setup cycles (s): {[round(t, 3) for t in setup_times]}")
        # checked before timing: the collect also lets the JIT settle,
        # and the collected frames are freed before anything is measured
        t_oracle = time.perf_counter()
        errs, asof_counts = oracle_check(spark, pages_path)
        gc.collect()
        log(f"oracle took {time.perf_counter() - t_oracle:.1f}s")
        for e in errs:
            log(f"ORACLE MISMATCH: {e}")
        if args.trace:
            metrics = per_layer(spark, pages_path, props, work)
            metrics.update(asof_counts)
            attempted = failed = 0
        else:
            from pyspark import SparkContext

            tree = ProcTree(SparkContext._gateway.proc.pid).start()
            samples, attempted, failed = timed_loop(
                spark, pages_path, args.seconds, tree, "op")
            log("operation wall (s): "
                + " ".join(f"{s[0]:.3f}" for s in samples))
            metrics = end_to_end(samples, props, setup_times) if samples else {}
        attempted += 1
        failed += bool(errs)
    finally:
        if tree is not None:
            tree.close()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    host = host_delta(host0, host_snapshot())
    log(f"host: steal_ratio={host['steal_ratio']:.4f} "
        f"load1 {host['load1_start']:.2f} -> {host['load1_end']:.2f}")
    if args.trace:
        metrics["host.steal_ratio"] = host["steal_ratio"]
        metrics["host.load1"] = host["load1_end"]
        metrics = {k: metric(v, unit_of(k)) for k, v in metrics.items()}

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    correct = not failed and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
