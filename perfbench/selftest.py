"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py            # checks + tiny Spark runs
    python3 perfbench/selftest.py --no-spark # checks only (seconds)

1. ``BENCHMARK.json`` names exactly the metrics ``run.py`` emits.
2. Every correctness check passes on a correct output and trips on a
   corrupted one: a row given a future artifact version, a dropped row, one
   perturbed feature, one perturbed artifact, one perturbed SQL value.
3. Tiny end-to-end runs of each workload (``--trace 0`` and ``1``) print a
   correct result with every metric, each with a unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def test_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(e2e == run.END_TO_END, "BENCHMARK.json end_to_end == run.py")
    expect(layer == run.PER_LAYER, "BENCHMARK.json per_layer == run.py")
    expect({w["name"] for w in bench["workloads"]} == {"pit_serve", "fit"},
           "BENCHMARK.json workloads")


def test_serve_checks(seq) -> None:
    ts = seq.table.column("ts").to_pylist()
    ids = seq.table.column("doc_id").to_pylist()
    good = [(d, t, checks.expected_version(t, seq.checkpoints))
            for d, t in zip(ids, ts)]
    expect(not checks.check_serve_rows(good, seq), "serve rows: correct")
    v1 = next(i for i, r in enumerate(good) if r[2] == 1)
    future = list(good)
    future[v1] = (good[v1][0], good[v1][1], 2)
    expect(checks.check_serve_rows(future, seq),
           "serve rows: a future artifact version trips the leakage check")
    early = next(i for i, r in enumerate(good) if r[2] is None)
    leaked = list(good)
    leaked[early] = (good[early][0], good[early][1], 1)
    expect(checks.check_serve_rows(leaked, seq),
           "serve rows: a version before v1 trips the leakage check")
    expect(checks.check_serve_rows(good[1:], seq),
           "serve rows: a dropped row trips the row count")


def test_fit_and_feature_checks(seq) -> None:
    from msi_preprocessing_pipeline_spark import oracle
    from msi_preprocessing_pipeline_spark.sources import synthetic

    axes = synthetic.source_axes_for(seq.plan, seq.channels)
    arts = {k: checks.oracle_fit_row(seq.rows(max_ts=ck), axes, k, ck)
            for k, ck in enumerate(seq.checkpoints, start=1)}
    expect(not checks.check_artifacts("v1", arts[1], arts[1]),
           "artifacts: equal to the oracle")
    bent = dict(arts[1], gmm_mu=(np.asarray(arts[1]["gmm_mu"]) * 1.001)
                .tolist())
    expect(checks.check_artifacts("v1", bent, arts[1]),
           "artifacts: a perturbed gmm_mu trips the oracle check")
    expect(checks.check_identical("x", bent, arts[1]),
           "artifacts: a perturbed gmm_mu trips the bit-identity check")
    expect(checks.check_artifacts("x", bent, arts[1], rtol=checks.CKPT_RTOL),
           "artifacts: a perturbed gmm_mu trips the fit_checkpointed check")
    ulp = dict(arts[1], tic_reference_tic=float(np.nextafter(
        arts[1]["tic_reference_tic"], np.inf)))
    expect(not checks.check_artifacts("x", ulp, arts[1],
                                      rtol=checks.CKPT_RTOL)
           and checks.fields_not_identical(ulp, arts[1])
           == ["tic_reference_tic"],
           "artifacts: a 1-ulp tic_reference_tic passes the fit_checkpointed "
           "check and is counted as not bit-identical")

    cfg = oracle.PipelineConfig()
    ts = dict(zip(seq.table.column("doc_id").to_pylist(),
                  seq.table.column("ts").to_pylist()))
    got = {}
    for row in seq.rows()[::5]:
        v = checks.expected_version(ts[row[0]], seq.checkpoints)
        feats = None if v is None else oracle.transform_rows(
            [row], axes, checks.oracle_artifacts(arts[v]), cfg)[0] \
            .astype(np.float32).tolist()
        got[row[0]] = (v, feats)
    bad, max_rel = checks.check_features(got, seq, arts, axes, cfg)
    expect(not bad and max_rel < 1e-6, "features: equal to the oracle")
    doc = next(d for d, (v, f) in got.items() if v is not None)
    v, f = got[doc]
    perturbed = dict(got)
    perturbed[doc] = (v, [f[0] * 1.01 + 1e-3] + f[1:])
    expect(checks.check_features(perturbed, seq, arts, axes, cfg)[0],
           "features: one perturbed feature trips the oracle check")
    early = next(d for d, (v, _f) in got.items() if v is None)
    leaked = dict(got)
    leaked[early] = (None, f)
    expect(checks.check_features(leaked, seq, arts, axes, cfg)[0],
           "features: features on an unversioned row trip the check")


def test_sql_checks() -> None:
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5],
                         "s": ["a", "b", "c"]})
    got = want.iloc[::-1][["s", "v", "k"]]
    path = list(sys.path)
    expect(not checks.check_sql("q", got, want), "sql: equal up to order")
    expect(sys.path == path, "sql: the contract's canon leaves sys.path as is")
    bent = got.copy()
    bent.loc[bent.index[0], "v"] += 1e-9
    expect(checks.check_sql("q", bent, want), "sql: a perturbed value trips")
    expect(checks.check_sql("q", got.iloc[1:], want),
           "sql: a dropped row trips")


def test_tiny_runs() -> None:
    for workload in ("pit_serve", "fit"):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", workload, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            expect(proc.returncode == 0, f"{workload} trace={trace}: exit 0"
                   + ("" if proc.returncode == 0 else proc.stderr[-3000:]))
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{workload} trace={trace}: result keys")
            want = run.PER_LAYER if trace else run.END_TO_END
            expect({k: m["unit"] for k, m in res["metrics"].items()} == want,
                   f"{workload} trace={trace}: every metric with its unit")
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1,
                   f"{workload} trace={trace}: correct "
                   f"({res['attempted']} ops attempted)")


def main() -> int:
    test_benchmark_json()
    seq = inputs.sequences(seed=7, rows_per_source=24, channels=512)
    test_serve_checks(seq)
    test_fit_and_feature_checks(seq)
    test_sql_checks()
    if "--no-spark" not in sys.argv:
        test_tiny_runs()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
