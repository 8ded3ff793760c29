"""Benchmark of the PySpark feature engine: PIT serving and artifact fitting.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pit_serve --seed 1 --seconds 12 --trace 0

Each run is one process: one client, a closed loop of back-to-back
operations on a ``local[N]`` session with N = the CPUs this process may use.
Both workloads read about 2,400 seeded spectra (2048 channels, four
sources, the first skewed 3x).

* ``pit_serve``: the spectra as-of joined to two artifact versions and
  featurized; one op is one serve pass written to fresh parquet. Set-up:
  session + two untimed passes. Traced runs also time the eleven as-of /
  PIT and shuffle-heavy SQL-operator queries over seeded TPC-H-like tables
  (one cold sweep, one timed sweep).
* ``fit``: one op is ``FeaturePipeline.fit`` of artifact version 2.
  Set-up: session + one untimed fit. Traced runs also time
  ``fit_checkpointed`` per stage.

* ``--trace 0`` prints the end-to-end metrics: ``op_s`` (median seconds of
  one operation) and ``setup_s``.
* ``--trace 1`` runs the same loop, then times calls into each layer's
  public functions and prints the per-layer metrics (``PER_LAYER``).

Either way every output is checked against the numpy / DuckDB oracles, a
line ``{"info": ...}`` records the box, the Spark conf, package versions
and the named per-workload figures, and the last line is the result
``{"correct", "attempted", "failed", "metrics"}``. Inputs, oracle results,
spans and results go under ``.perfbench/`` at the repository root.
Self-test: ``python3 perfbench/selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

END_TO_END = {"op_s": "s", "setup_s": "s"}
DRIVER_MEM = "4g"

PER_LAYER = {
    # driver + JVM + Python workers; too variable run to run (Python worker
    # count) to bound as an end-to-end metric
    "peak_rss_mb": "MB",
    "session.build_s": "s",
    "trace.overhead_share": "share",
    # median CPU seconds (user + system) of the process tree per measured
    # op; host CPU steal is not charged to it
    "op_cpu_s": "s",
    "ops_failed_share": "share",
    # pit_serve: serve chain
    "serve_rows_per_s": "1/s",
    "sources.scan_s": "s",
    "asof.broadcast_join_s": "s",
    "asof.rows_unversioned": "count",
    "spectrum.serve_udf_s": "s",
    "spectrum.boundary_s": "s",
    "serve.unattributed_s": "s",
    "serve.spark_jobs": "count",
    **{f"kernels.{k}_ms_per_row": "ms" for k in
       ("resample", "baseline", "pafft", "tic", "convolve", "merge")},
    "kernels.serve_cpu_s": "s",
    "kernels.serve_share": "share",
    # fit: fit DAG (persist materializer)
    "fit_s": "s",
    **{f"fit.{f}_s": "s" for f in
       ("tic_outlier_thresholds", "masked_mean_reference",
        "masked_weighted_mean_scalar", "gmm", "outlier_mc", "unattributed")},
    "fit.spark_jobs": "count",
    # fit: fit DAG (StageRunner materializer)
    "fit_ckpt_s": "s",
    **{f"runner.{s}_s": "s" for s in
       ("mz_axis", "resample_baseline", "tic_thresholds", "pafft_reference",
        "pafft", "tic_reference_tic", "normalized", "gmm_reference",
        "artifact_set", "lineage_overhead")},
    "runner.bytes_written": "bytes",
    "fit_ckpt.spark_jobs": "count",
    "fit_ckpt.unattributed_s": "s",
    # artifact fields in which fit_checkpointed and fit are not bit-identical
    "fit_ckpt.fields_not_identical": "count",
    # pit_serve: SQL operators, one warm sweep
    "sql_s": "s",
    **{f"sql.{q}_s": "s" for q in
       ("asof_click_purchase", "pit_agg_features", "training_set_pit",
        "backfill_click_value", "sessionize_stats", "rolling_time_features",
        "pagerank_part_supplier", "bfs_hops_suppliers",
        "basket_rules_lineitem", "ngram_jaccard_pairs", "similar_docs_tfidf",
        "unattributed")},
    "sql.spark_jobs": "count",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s  {msg}",
          file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def measure(op, seconds: float) -> tuple[list[float], list[float]]:
    """Closed loop: back-to-back ops until ``seconds`` have passed (at
    least one op); returns each op's wall seconds and the CPU seconds the
    process tree used during it."""
    from spans import tree_cpu_s
    times: list[float] = []
    cpu: list[float] = []
    pid = os.getpid()
    end = time.perf_counter() + seconds
    while True:
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        op()
        times.append(time.perf_counter() - t0)
        cpu.append(tree_cpu_s(pid) - c0)
        if time.perf_counter() >= end:
            return times, cpu


def summary(times: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (none below 20 samples)."""
    n = len(times)
    out = {"n": n, "median": statistics.median(times), "all": times}
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        out[f"p{p}"] = statistics.quantiles(times, n=100)[p - 1]
    return out


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def box_record(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    def meminfo() -> str:
        with open("/proc/meminfo") as f:
            return f.readline().split(":", 1)[1].strip()

    def cpu_model() -> str:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
        return platform.machine()

    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True).stdout.strip()
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": cores(), "cpu_count": os.cpu_count(), "cpu": cpu_model(),
        "mem_total": meminfo(),
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if not k.endswith((".port", ".id", ".host", ".dir",
                                          ".ivy", "Time", "extraJavaOptions"))},
        "versions": {"python": platform.python_version(),
                     "java": spark.sparkContext._jvm.System.getProperty(
                         "java.version"),
                     "pyspark": pyspark.__version__,
                     "numpy": numpy.__version__, "pandas": pandas.__version__,
                     "pyarrow": pyarrow.__version__,
                     "duckdb": duckdb.__version__},
        "git_rev": rev,
        "source_hash": inputs.files_hash(inputs.PKG,
                                         os.path.join(ROOT,
                                                      "__spark_entry__.py")),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from spans import descendants
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full") -> dict:
    """One benchmark run; returns {"info": ..., "result": ...}."""
    run_dir = os.path.join(inputs.STATE, "run", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    # Spark, its Python workers and the JVM keep scratch files in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData")
    # A fixed 4g driver heap instead of the session's 24g default: the
    # inputs need far less, and the benchmark keeps its footprint small.
    # Fixed, so no inherited value changes what is measured; the split size
    # keeps the session default.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)

    from spans import RssSampler, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](seed, size, run_dir, cores())
    tracer = wl.tracer = Tracer() if trace else None
    wl.prepare()
    log("inputs ready")
    ticks0 = cpu_ticks()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        log(f"setup done ({setup_s:.1f}s)")
        times, cpu = measure(wl.op, seconds)
    log(f"measured {len(times)} ops")
    if trace:
        wl.trace(times)
        roots = [s for s in tracer.spans if s["parent"] is None]
        wl.layers["trace.overhead_share"] = (
            (tracer.overhead_s + wl.jobs.overhead_s)
            / sum(s["end"] - s["start"] for s in roots))
        log("traced")
    box = box_record(wl.spark)
    # CPU time the hypervisor gave to other guests while this run was busy
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    box["cpu_steal_share"] = d[7] / max(sum(d[:8]), 1)
    stop_spark(wl.spark)
    log("stopped")
    wl.check(times)
    log("checked")
    info = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "size": size, "closed_loop_clients": 1,
        "op_s": summary(times), "op_cpu_s": summary(cpu), "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "named": dict(wl.named, setup_s=setup_s,
                      ops_failed_share=wl.failed / wl.attempted),
        "failures": wl.failures[:20],
        "box": box,
    }
    wl.layers["ops_failed_share"] = wl.failed / wl.attempted
    wl.layers["peak_rss_mb"] = rss.peak_mb
    wl.layers["op_cpu_s"] = info["op_cpu_s"]["median"]
    if trace:
        metrics = {k: {"value": float(wl.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        tracer.write(os.path.join(inputs.STATE, "traces",
                                  f"{workload}-seed{seed}-{os.getpid()}.jsonl"))
    else:
        values = {"op_s": info["op_s"]["median"], "setup_s": setup_s}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    result = {"correct": wl.failed == 0, "attempted": wl.attempted,
              "failed": wl.failed, "metrics": metrics}
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"info": info, "result": result}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pit_serve", "fit"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the self-test")
    args = p.parse_args(argv)
    # the benchmark builds and runs the engine from this source tree
    for need in ("msi_preprocessing_pipeline_spark/__init__.py",
                 "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  f"full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.size)
    os.makedirs(os.path.join(inputs.STATE, "results"), exist_ok=True)
    with open(os.path.join(inputs.STATE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}"
                           f"-{os.getpid()}.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"info": out["info"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
