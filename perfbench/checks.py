"""Correctness checks. Each returns a list of failure messages (empty when
the output is correct) and takes plain data, so the self-test can feed it
corrupted outputs without Spark.

Oracles: ``oracle.fit_artifacts`` / ``oracle.transform_rows`` (the numpy
reference pipeline) and each query's DuckDB ``oracle_sql()``. Oracle results
are cached per input, keyed by a hash of the oracle sources.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import sys

import numpy as np
import pandas as pd

from inputs import PKG, ROOT, SQL_TABLES, Sequences, files_hash

ARTIFACT_RTOL = {  # the tolerances of tests/test_pipeline_parity.py
    "mz_axis": 1e-12, "b1": 1e-9, "b2": 1e-9, "pafft_reference": 1e-7,
    "tic_reference_tic": 1e-7, "gmm_mu": 1e-5, "gmm_sig": 1e-4,
    "gmm_w": 1e-4,
}
EXACT_FIELDS = ("merge_starts", "merge_lengths")
FEATURE_RTOL, FEATURE_ATOL = 1e-5, 1e-6
# fit_checkpointed vs fit: the tolerance of tests/test_checkpoint_resume.py.
# The two paths sum the TIC reference over differently split inputs
# (persisted rows vs the runner's parquet stages), so its last bits can
# differ; ``fields_not_identical`` reports that without failing the op.
CKPT_RTOL = 1e-9


# ------------------------------------------------------------------ serve

def expected_version(ts: int, checkpoints: list[int]):
    """Latest version k (1-based) with checkpoints[k-1] <= ts, else None."""
    v = None
    for k, ck in enumerate(sorted(checkpoints), start=1):
        if ck <= ts:
            v = k
    return v


def check_serve_rows(out: list[tuple], seq: Sequences) -> list[str]:
    """``out``: (doc_id, ts, artifact_version) of every output row. Row
    count in == out, and zero temporal leakage."""
    bad = []
    n_in = seq.table.num_rows
    if len(out) != n_in:
        bad.append(f"serve: {len(out)} rows out for {n_in} in")
    src_ts = dict(zip(seq.table.column("doc_id").to_pylist(),
                      seq.table.column("ts").to_pylist()))
    if {r[0] for r in out} != set(src_ts):
        bad.append("serve: output doc_ids differ from the input's")
    leaks = [r for r in out
             if r[0] in src_ts and (r[1] != src_ts[r[0]] or r[2] !=
                                    expected_version(src_ts[r[0]],
                                                     seq.checkpoints))]
    if leaks:
        bad.append(f"serve: {len(leaks)} rows with a wrong artifact version "
                   f"or ts, e.g. {leaks[0]}")
    return bad


def oracle_artifacts(row: dict):
    from msi_preprocessing_pipeline_spark.oracle import PipelineArtifacts
    a = PipelineArtifacts()
    for k in ("mz_axis", "pafft_reference", "gmm_mu", "gmm_sig", "gmm_w"):
        setattr(a, k, np.asarray(row[k], dtype=float))
    a.merge_starts = np.asarray(row["merge_starts"], dtype=np.int64)
    a.merge_lengths = np.asarray(row["merge_lengths"], dtype=np.int64)
    a.tic_reference_tic = float(row["tic_reference_tic"])
    a.tic_thresholds = (float(row["b1"]), float(row["b2"]))
    return a


def check_features(got: dict, seq: Sequences, artifacts: dict[int, dict],
                   axes: dict, cfg) -> tuple[list[str], float]:
    """``got``: doc_id -> (artifact_version, features or None) for a sample
    of rows; ``artifacts``: version -> ArtifactSet.to_row(). Features must
    match ``oracle.transform_rows`` with that version's artifacts. Returns
    (failures, max relative difference)."""
    from msi_preprocessing_pipeline_spark import oracle

    bad, max_rel = [], 0.0
    rows = {r[0]: r for r in seq.rows(doc_ids=set(got))}
    for doc_id, (version, feats) in sorted(got.items()):
        if version is None:
            if feats is not None:
                bad.append(f"features: {doc_id} has no artifact version but "
                           f"non-null features")
            continue
        if feats is None or version not in artifacts:
            bad.append(f"features: {doc_id} v{version} has no features")
            continue
        want = oracle.transform_rows([rows[doc_id]], axes,
                                     oracle_artifacts(artifacts[version]),
                                     cfg)[0]
        feats = np.asarray(feats, dtype=np.float64)
        if feats.shape != want.shape:
            bad.append(f"features: {doc_id} shape {feats.shape} vs "
                       f"{want.shape}")
            continue
        rel = np.abs(feats - want) / np.maximum(np.abs(want), 1e-30)
        max_rel = max(max_rel, float(rel.max()) if rel.size else 0.0)
        if not np.allclose(feats, want, rtol=FEATURE_RTOL, atol=FEATURE_ATOL):
            bad.append(f"features: {doc_id} v{version} differs from the "
                       f"oracle (max rel {float(rel.max()):.3g})")
    return bad, max_rel


# -------------------------------------------------------------------- fit

def check_artifacts(label: str, got: dict, want: dict,
                    rtol: float | None = None) -> list[str]:
    """Artifacts (``to_row()``) allclose to ``want``: per field at
    ``ARTIFACT_RTOL`` (against the oracle), or all at ``rtol``."""
    bad = []
    for k, field_rtol in ARTIFACT_RTOL.items():
        a, b = np.asarray(got[k], float), np.asarray(want[k], float)
        if a.shape != b.shape or not np.allclose(
                a, b, rtol=field_rtol if rtol is None else rtol, atol=0):
            bad.append(f"{label}: artifact {k} differs")
    for k in EXACT_FIELDS:
        if list(got[k]) != list(want[k]):
            bad.append(f"{label}: artifact {k} differs")
    return bad


def fields_not_identical(a: dict, b: dict) -> list[str]:
    return sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))


def check_identical(label: str, a: dict, b: dict) -> list[str]:
    diff = fields_not_identical(a, b)
    return [f"{label}: artifacts are not bit-identical in "
            f"{', '.join(diff)}"] if diff else []


def oracle_fit_row(rows, axes, version, valid_from_ts) -> dict:
    from msi_preprocessing_pipeline_spark import oracle
    a = oracle.fit_artifacts(rows, axes, oracle.PipelineConfig())
    return {"version": version, "valid_from_ts": valid_from_ts,
            "mz_axis": a.mz_axis.tolist(),
            "b1": float(a.tic_thresholds[0]), "b2": float(a.tic_thresholds[1]),
            "pafft_reference": a.pafft_reference.tolist(),
            "tic_reference_tic": float(a.tic_reference_tic),
            "gmm_mu": a.gmm_mu.tolist(), "gmm_sig": a.gmm_sig.tolist(),
            "gmm_w": a.gmm_w.tolist(),
            "merge_starts": [int(x) for x in a.merge_starts],
            "merge_lengths": [int(x) for x in a.merge_lengths]}


def oracle_fits(seq: Sequences, axes: dict,
                versions: tuple[int, ...] = (1, 2)) -> dict[int, dict]:
    """Oracle artifacts per version, each fitted from the rows at or before
    its checkpoint; computed once per input and version."""
    key = files_hash(os.path.join(PKG, "oracle.py"), os.path.join(PKG, "kernels"))
    out = {}
    for k in versions:
        path = os.path.join(seq.path, f"_oracle-fit-v{k}-{key}.json")
        if not os.path.exists(path):
            ck = seq.checkpoints[k - 1]
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(oracle_fit_row(seq.rows(max_ts=ck), axes, k, ck), f)
            os.replace(tmp, path)
        with open(path) as f:
            out[k] = json.load(f)
    return out


# -------------------------------------------------------------------- SQL

def contract_canon():
    """``canon`` of tools/verify_contract.py, the contract check's SQL
    comparison (sorted columns, object columns as str, rows sorted),
    imported without the ``sys.path`` entry that module adds."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from verify_contract import canon
    finally:
        sys.path[:] = saved
    return canon


def check_sql(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """verify_contract's comparison: rows, columns, dtypes, then values."""
    canon = contract_canon()
    s, o = canon(got), canon(want)
    if len(s) != len(o):
        return [f"{name}: {len(s)} rows vs oracle {len(o)}"]
    if list(s.columns) != list(o.columns):
        return [f"{name}: columns {list(s.columns)} vs {list(o.columns)}"]
    dtypes = [c for c in s.columns if s[c].dtype != o[c].dtype]
    if dtypes:
        return [f"{name}: dtypes differ in {dtypes}"]
    try:
        same = s.equals(o.astype(s.dtypes.to_dict()))
    except Exception:
        same = False
    return [] if same else [f"{name}: values differ from the oracle"]


def oracle_sql_results(tables_dir: str, names: list[str]) -> dict:
    """DuckDB ``oracle_sql()`` result per query over the same parquet files;
    cached beside the tables."""
    import duckdb
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    key = hashlib.sha1(json.dumps([duckdb.__version__] +
                                  [sqls[n] for n in names]).encode()
                       ).hexdigest()[:16]
    path = os.path.join(tables_dir, f"_oracle-sql-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in SQL_TABLES:
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    out = {n: con.execute(sqls[n]).df() for n in names}
    con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out

