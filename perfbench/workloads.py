"""The benchmark's workloads: closed loops, one client, one process.

Each workload has four phases. ``prepare`` makes the seeded inputs (cached,
never timed). ``setup`` is what a user pays before the first useful result:
the Spark session and everything a workload needs before its loop. ``op``
is one iteration of the measured loop. ``check`` verifies outputs, untimed.
``trace`` runs after the loop, in ``--trace 1`` runs only, and times calls
into each layer's public functions.

The SQL operators are not a workload of their own: a warm sweep of the
eleven queries is about a hundred small Spark jobs and takes 12-20 s on 4
cores, so a run holds one sweep and its time follows host CPU steal run by
run. Traced ``pit_serve`` runs time one warm sweep per query
(``SqlSweeps``).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import inputs
from spans import JobCounter, Tracer

SQL_QUERIES = (
    # as-of / point-in-time family (operators.asof sort-merge path, windows)
    "asof_click_purchase", "pit_agg_features", "training_set_pit",
    "backfill_click_value", "sessionize_stats", "rolling_time_features",
    # shuffle-heavy and iterative (localCheckpoint chains, self-joins)
    "pagerank_part_supplier", "bfs_hops_suppliers", "basket_rules_lineitem",
    "ngram_jaccard_pairs", "similar_docs_tfidf",
)

# StageRunner stage names of FeaturePipeline.fit_checkpointed
RUNNER_STAGES = (
    "mz_axis", "resample_baseline", "tic_thresholds", "pafft_reference",
    "pafft", "tic_reference_tic", "normalized", "gmm_reference",
    "artifact_set")

KERNELS = ("resample", "baseline", "pafft", "tic", "convolve", "merge")


class Workload:
    name = ""
    warmup_ops = 1  # untimed iterations at the end of set-up

    def __init__(self, seed: int, size: str, run_dir: str, cores: int):
        self.seed, self.size, self.run_dir, self.cores = seed, size, run_dir, cores
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.named: dict[str, float] = {}
        self.spark = None
        self.tracer: Tracer | None = None  # set for --trace 1 runs

    def record(self, failures: list[str]) -> None:
        """Count one attempted op, failed if it has any failure."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.failures.extend(failures)

    def build_session(self):
        from msi_preprocessing_pipeline_spark.session import build_session
        t0 = time.perf_counter()
        self.spark = build_session(
            "perfbench", parallelism=self.cores,
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.sql.warehouse.dir":
                            os.path.join(self.run_dir, "warehouse")})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.build_s"] = time.perf_counter() - t0
        self.jobs = JobCounter(self.spark.sparkContext)


# ------------------------------------------------------------------ serve

class Spectra(Workload):
    """Shared by ``pit_serve`` and ``fit``: the seeded sequence table, its
    per-source axes and the oracle's artifacts for ``versions`` (each
    fitted from the rows at or before its checkpoint, cached per input)."""

    versions: tuple[int, ...] = (1, 2)
    SIZES = {"full": dict(rows_per_source=400, channels=2048),
             "tiny": dict(rows_per_source=24, channels=512)}

    def prepare(self):
        from msi_preprocessing_pipeline_spark.oracle import PipelineConfig
        from msi_preprocessing_pipeline_spark.sources import synthetic
        self.seq = inputs.sequences(self.seed, **self.SIZES[self.size])
        self.cfg = PipelineConfig()
        self.axes = synthetic.source_axes_for(self.seq.plan,
                                              self.seq.channels)
        self.oracle_arts = checks.oracle_fits(self.seq, self.axes,
                                              self.versions)

    def setup(self):
        from msi_preprocessing_pipeline_spark.plans.pipeline import (
            FeaturePipeline)
        from msi_preprocessing_pipeline_spark.sources.tables import (
            read_sequences)
        self.build_session()
        self.df = read_sequences(self.spark, self.seq.path)
        self.pipe = FeaturePipeline(self.spark, self.axes, self.cfg)
        for _ in range(self.warmup_ops):
            self.op()


class PitServe(Spectra):
    """PIT serving: as-of join to two artifact versions, then the fused
    Arrow featurization pass, features written to fresh parquet.

    The served artifacts are the oracle's, so the runs spend their time on
    serving. Traced runs also time the SQL-operator sweep."""

    name = "pit_serve"
    # after one untimed pass the next is still 15-25% slower than the rest
    # (Python workers, JIT); a second keeps warming passes out of the loop
    warmup_ops = 2

    def prepare(self):
        from msi_preprocessing_pipeline_spark.operators.spectrum import (
            ArtifactSet)
        super().prepare()
        self.arts = [ArtifactSet.from_row(self.oracle_arts[k])
                     for k in self.versions]
        self.outputs: list[str] = []
        self.sql: SqlSweeps | None = None  # set by trace()

    def _dir(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def op(self):
        out = self._dir(f"features-{len(self.outputs)}")
        self.pipe.transform(self.df, self.arts).write.mode("overwrite") \
            .parquet(out)
        self.outputs.append(out)

    def check(self, times: list[float]):
        for k, path in enumerate(self.outputs):
            out = pq.read_table(path)
            bad = checks.check_serve_rows(list(zip(*(
                out.column(c).to_pylist()
                for c in ("doc_id", "ts", "artifact_version")))), self.seq)
            if k == len(self.outputs) - 1:
                bad += self._check_feature_sample(out)
            self.record(bad)
            shutil.rmtree(path)
        self.named["serve_rows_per_s"] = (self.seq.table.num_rows
                                          / statistics.median(times))
        if self.sql is not None:
            self.sql.check()

    def _check_feature_sample(self, out) -> list[str]:
        """Up to four seeded rows per artifact version (and unversioned)."""
        rng = random.Random(self.seed)
        cols = [out.column(c).to_pylist()
                for c in ("doc_id", "artifact_version", "features")]
        by_version: dict = {}
        for d, v, _f in zip(*cols):
            by_version.setdefault(v, []).append(d)
        sample = {d for ids in by_version.values()
                  for d in rng.sample(sorted(ids), min(4, len(ids)))}
        got = {d: (v, f) for d, v, f in zip(*cols) if d in sample}
        bad, max_rel = checks.check_features(
            got, self.seq, {a.version: a.to_row() for a in self.arts},
            self.axes, self.cfg)
        self.named["features_max_rel_diff"] = max_rel
        return bad

    # ------------------------------------------------------------- trace

    def trace(self, times: list[float]):
        from msi_preprocessing_pipeline_spark.operators import asof
        from msi_preprocessing_pipeline_spark.sources.tables import (
            read_sequences)
        tracer = self.tracer

        def timed(label, action):
            with tracer.span(label), self.jobs.group(label) as g:
                action()
            span = tracer.last(label)
            return span["end"] - span["start"], g["jobs"]

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        # the serve chain, cumulatively: scan, + as-of join, + UDF pass,
        # + parquet encode/write (the measured op)
        spine = self.pipe.artifact_spine(self.arts)
        scan, _ = timed("sources.scan", lambda: noop(
            read_sequences(self.spark, self.seq.path)))
        join, _ = timed("asof.broadcast_join", lambda: noop(
            asof.asof_join_broadcast(
                read_sequences(self.spark, self.seq.path), spine,
                on="source", left_ts="ts", right_ts="valid_from_ts",
                value_cols=["artifact_version"])))
        udf, _ = timed("spectrum.serve", lambda: noop(
            self.pipe.transform(self.df, self.arts)))
        serve, serve_jobs = timed("serve", self.op)

        cpu = self._kernel_ms_per_row()
        unversioned = pq.read_table(self.outputs[-1],
                                    columns=["artifact_version"]) \
            .column(0).null_count
        versioned = self.seq.table.num_rows - unversioned
        serve_cpu_s = sum(cpu.values()) * versioned / 1000.0
        self.layers.update({
            "sources.scan_s": scan,
            "asof.broadcast_join_s": join - scan,
            "asof.rows_unversioned": unversioned,
            "spectrum.serve_udf_s": udf - join,
            "spectrum.boundary_s": (udf - join) - serve_cpu_s / self.cores,
            "serve.unattributed_s": serve - udf,
            "serve.spark_jobs": serve_jobs,
            "serve_rows_per_s": (self.seq.table.num_rows
                                 / statistics.median(times)),
            "kernels.serve_cpu_s": serve_cpu_s,
            "kernels.serve_share": serve_cpu_s / self.cores / serve,
        })
        self.layers.update({f"kernels.{k}_ms_per_row": v
                            for k, v in cpu.items()})
        self.sql = SqlSweeps(self)
        self.sql.trace()

    def _kernel_ms_per_row(self) -> dict[str, float]:
        """Single-core ms/row of each serve kernel, in process, on a seeded
        sample of versioned rows with their version's artifacts."""
        from msi_preprocessing_pipeline_spark.kernels import (
            alignment, axis, baseline, convolve, merge)
        rng = random.Random(self.seed)
        ts = dict(zip(self.seq.table.column("doc_id").to_pylist(),
                      self.seq.table.column("ts").to_pylist()))
        ids = sorted(d for d, t in ts.items()
                     if checks.expected_version(t, self.seq.checkpoints))
        sample = set(rng.sample(ids, min(32, len(ids))))
        rows = self.seq.rows(doc_ids=sample)
        cfg, clock = self.cfg, time.perf_counter
        spent = dict.fromkeys(KERNELS, 0.0)
        for art in self.arts:
            mine = [r for r in rows if checks.expected_version(
                ts[r[0]], self.seq.checkpoints) == art.version]
            if not mine:
                continue
            bands = convolve.build_bands(art.mz_axis, art.gmm_mu,
                                         art.gmm_sig, art.gmm_w)
            mat = np.empty((len(mine), art.mz_axis.size), dtype=np.float32)
            for j, (_d, toks, _n, src) in enumerate(mine):
                t0 = clock()
                x = axis.resample_row(art.mz_axis, self.axes[src],
                                      toks.astype(float))
                t1 = clock()
                x = baseline.remove_baseline(
                    art.mz_axis, x, cfg.baseline_max_width,
                    cfg.baseline_min_width, cfg.baseline_increment)
                t2 = clock()
                x = alignment.pafft(x, art.pafft_reference, art.mz_axis,
                                    cfg.pafft_minimum_segment,
                                    cfg.pafft_shift_limit)
                t3 = clock()
                mat[j] = x * (art.tic_reference_tic / float(x.sum()))
                t4 = clock()
                for k, dt in zip(KERNELS, (t1 - t0, t2 - t1, t3 - t2,
                                           t4 - t3)):
                    spent[k] += dt
            t0 = clock()
            feats = convolve.featurize_batch(mat, bands)
            t1 = clock()
            merge.apply_merging(feats, art.merge_starts, art.merge_lengths)
            spent["convolve"] += t1 - t0
            spent["merge"] += clock() - t1
        return {k: 1000.0 * v / len(rows) for k, v in spent.items()}


# -------------------------------------------------------------------- fit

class Fit(Spectra):
    """``FeaturePipeline.fit`` of artifact version 2 on the rows at or
    before its checkpoint, as ``fit_pit`` fits it. Every fit must be
    allclose to the oracle's and bit-identical to the first.

    Traced runs span one more ``fit`` per fit-DAG call, then
    ``fit_checkpointed`` (the CLI ``fit --work-dir`` path, fresh work dir)
    per ``StageRunner`` stage. That fit must be allclose to the oracle's and
    within ``CKPT_RTOL`` of ``fit``'s; the fields in which the two are not
    bit-identical are counted."""

    name = "fit"
    versions = (2,)

    def prepare(self):
        super().prepare()
        self.fits: list[dict] = []

    def fit(self):
        ck = self.seq.checkpoints[1]
        return self.pipe.fit(self.df, version=2, valid_from_ts=ck, max_ts=ck)

    def op(self):
        self.fits.append(self.fit().to_row())

    def check(self, times: list[float]):
        for k, row in enumerate(self.fits):
            bad = checks.check_artifacts(f"fit {k} vs oracle", row,
                                         self.oracle_arts[2])
            self.record(bad + checks.check_identical(
                f"fit {k} vs fit 0", row, self.fits[0]))
        self.named["fit_s"] = statistics.median(times)

    def trace(self, times: list[float]):
        from msi_preprocessing_pipeline_spark.kernels import gmm, outlier
        from msi_preprocessing_pipeline_spark.operators import spectrum as sp
        from msi_preprocessing_pipeline_spark.plans.runner import StageRunner
        tracer = self.tracer

        fit_calls = ("tic_outlier_thresholds", "masked_mean_reference",
                     "masked_weighted_mean_scalar")
        for f in fit_calls:
            tracer.wrap(sp, f, f"fit.{f}")
        tracer.wrap(gmm, "estimate_spectrum_gmm", "fit.gmm")
        tracer.wrap(outlier, "thresholds_from_stats", "fit.outlier_mc")
        with tracer.span("fit"), self.jobs.group("fit") as g_fit:
            self.op()
        tracer.unwrap_all()

        for method in ("run_stage", "run_artifact"):
            tracer.wrap(StageRunner, method,
                        lambda _self, name, *a, **k: f"runner.{name}")
        work = os.path.join(self.run_dir, "stages")
        runner = StageRunner(self.spark, work)
        ck = self.seq.checkpoints[1]
        with tracer.span("fit_ckpt"), self.jobs.group("fit_ckpt") as g_ckpt:
            ckpt = self.pipe.fit_checkpointed(
                self.df, runner, version=2, valid_from_ts=ck,
                max_ts=ck).to_row()
        tracer.unwrap_all()

        self.record(checks.check_artifacts(
            "fit_checkpointed vs oracle", ckpt, self.oracle_arts[2]))
        self.record(checks.check_artifacts(
            "fit_checkpointed vs fit", ckpt, self.fits[-1],
            rtol=checks.CKPT_RTOL))
        not_identical = checks.fields_not_identical(ckpt, self.fits[-1])
        self.named["fit_ckpt_fields_not_identical"] = not_identical

        def wall(span):
            return span["end"] - span["start"]

        top, ckpt_span = tracer.last("fit"), tracer.last("fit_ckpt")
        stage_spans = [s for s in tracer.spans
                       if s["parent"] == ckpt_span["id"]]
        self.layers.update({
            f"fit.{f}_s": tracer.total(f"fit.{f}")
            for f in fit_calls + ("gmm", "outlier_mc")})
        self.layers.update({f"runner.{s}_s": tracer.total(f"runner.{s}")
                            for s in RUNNER_STAGES})
        self.layers.update({
            "fit_s": wall(top),
            "fit.unattributed_s": wall(top) - tracer.children_total(top),
            "fit.spark_jobs": g_fit["jobs"],
            "fit_ckpt_s": wall(ckpt_span),
            "fit_ckpt.unattributed_s": (wall(ckpt_span)
                                        - tracer.children_total(ckpt_span)),
            "fit_ckpt.spark_jobs": g_ckpt["jobs"],
            "fit_ckpt.fields_not_identical": len(not_identical),
            "runner.lineage_overhead_s": (
                sum(wall(s) for s in stage_spans)
                - sum(r["seconds"] for r in runner.lineage())),
            "runner.bytes_written": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(work) for f in fs),
        })


# -------------------------------------------------------------------- SQL

class SqlSweeps:
    """The eleven SQL-operator queries over seeded tables on a workload's
    session, each result collected to the driver and checked against its
    DuckDB oracle. ``trace`` runs one cold sweep untraced, then one warm
    sweep with a span and a job group per query."""

    SIZES = {"full": 0.01, "tiny": 0.001}

    def __init__(self, wl: Workload):
        import __spark_entry__ as entry
        self.wl = wl
        self.tables = inputs.sql_tables(wl.seed, self.SIZES[wl.size])
        self.queries = entry.queries()
        self.sweeps: list[dict] = []

    def run(self, q: str):
        return self.queries[q](self.wl.spark, self.tables).toPandas()

    def trace(self):
        wl, tracer = self.wl, self.wl.tracer
        self.sweeps.append({q: self.run(q) for q in SQL_QUERIES})
        sweep, jobs = {}, 0
        with tracer.span("sql"):
            for q in SQL_QUERIES:
                with tracer.span(f"sql.{q}"), wl.jobs.group(q) as g:
                    sweep[q] = self.run(q)
                jobs += g["jobs"]
        self.sweeps.append(sweep)
        per_query = {f"sql.{q}_s": tracer.total(f"sql.{q}")
                     for q in SQL_QUERIES}
        total = tracer.total("sql")
        wl.layers.update(per_query)
        wl.layers.update({
            "sql_s": total, "sql.spark_jobs": jobs,
            "sql.unattributed_s": total - sum(per_query.values())})
        wl.named["sql_s"] = total

    def check(self):
        want = checks.oracle_sql_results(self.tables, list(SQL_QUERIES))
        for sweep in self.sweeps:
            for q, got in sweep.items():
                self.wl.record(checks.check_sql(q, got, want[q]))


WORKLOADS = {w.name: w for w in (PitServe, Fit)}
