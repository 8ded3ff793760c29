"""Seeded benchmark inputs, generated once into a content-keyed cache.

Every input is a pure function of ``--seed`` and the sizes below. The cache
key also hashes the generator sources, so editing a generator invalidates
its entries. Generation runs before any timer starts, so ``setup_s`` never
includes it.

* Sequence table (pit_serve, fit): the engine's ``(doc_id, tokens, n_tok,
  source, ts)`` shape, one row per spectrum, built with
  ``kernels.synth.row_tokens`` exactly as ``sources.synthetic`` builds it on
  Spark. Four sources with the seed in their names; the first is skewed 3x.
  ``ts`` is the rank of the row within its source on the engine's epoch
  grid (``oracle.derive_ts``).
* SQL tables (traced pit_serve runs): ``events``, ``lineitem`` and ``documents`` in the
  schema and shape of the repository's TPC-H-like test tables, at scale
  0.01 (``perfbench/shape.py`` compares the two).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
PKG = os.path.join(ROOT, "msi_preprocessing_pipeline_spark")

N_SOURCES = 4
SKEW = 3
# checkpoint positions as fractions of a source's base row count: rows
# before the first precede every artifact version (null features)
CHECKPOINT_FRACTIONS = (0.25, 0.75)


def files_hash(*paths: str) -> str:
    """sha1 over the bytes of the given files (directories: their *.py)."""
    h = hashlib.sha1()
    for p in paths:
        if os.path.isdir(p):
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p)
                           for f in fs if f.endswith(".py"))
        else:
            files = [p]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _cache_dir(kind: str, **key) -> str:
    gen = files_hash(os.path.abspath(__file__),
                     os.path.join(PKG, "kernels", "synth.py"))
    blob = json.dumps(dict(key, kind=kind, gen=gen), sort_keys=True)
    return os.path.join(CACHE, f"{kind}-{hashlib.sha1(blob.encode()).hexdigest()[:16]}")


def _materialize(path: str, build) -> None:
    """Run ``build(tmp_dir)`` and commit it by rename (a crashed run leaves
    no half-written entry behind)."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # another run committed the same entry first
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------------------- sequences

@dataclass
class Sequences:
    path: str                 # parquet dir of the table
    plan: dict[str, int]      # source -> rows
    channels: int
    checkpoints: list[int]    # valid_from_ts of artifact versions 1, 2, ...
    table: pa.Table

    def rows(self, max_ts: int | None = None,
             doc_ids: set | None = None) -> list[tuple]:
        """Oracle-side ``(doc_id, tokens, n_tok, source)`` tuples."""
        t = self.table.combine_chunks()
        toks = t.column("tokens").chunk(0)
        flat = toks.values.to_numpy()
        offs = toks.offsets.to_numpy()
        out = []
        for i, (d, n, s, ts) in enumerate(zip(
                *(t.column(c).to_pylist()
                  for c in ("doc_id", "n_tok", "source", "ts")))):
            if max_ts is not None and ts > max_ts:
                continue
            if doc_ids is not None and d not in doc_ids:
                continue
            out.append((d, flat[offs[i]:offs[i + 1]], n, s))
        return out


def source_plan(seed: int, rows_per_source: int) -> dict[str, int]:
    return {f"s{seed}-src-{i:03d}": rows_per_source * (SKEW if i == 0 else 1)
            for i in range(N_SOURCES)}


def sequences(seed: int, rows_per_source: int, channels: int) -> Sequences:
    from msi_preprocessing_pipeline_spark.kernels import synth
    from msi_preprocessing_pipeline_spark.oracle import PipelineConfig

    cfg = PipelineConfig()
    plan = source_plan(seed, rows_per_source)
    path = _cache_dir("sequences", seed=seed, rows=rows_per_source,
                      channels=channels)

    def build(tmp: str) -> None:
        doc_ids, tokens, srcs, ts = [], [], [], []
        for src in sorted(plan):
            for i in range(plan[src]):
                doc_id = f"{src}-{i:08d}"
                doc_ids.append(doc_id)
                tokens.append(synth.row_tokens(src, doc_id, channels))
                srcs.append(src)
                ts.append(cfg.epoch_base + i * cfg.epoch_step)
        n_tok = np.asarray([t.size for t in tokens], dtype=np.int32)
        offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
        table = pa.table({
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(np.concatenate(tokens))),
            "n_tok": pa.array(n_tok),
            "source": pa.array(srcs, pa.string()),
            "ts": pa.array(ts, pa.int64()),
        })
        # small row groups: the scan splits by bytes
        # (spark.sql.files.maxPartitionBytes), one task per few row groups,
        # so the serve plan stays shuffle-free as on a real token table
        pq.write_table(table, os.path.join(tmp, "part-0.parquet"),
                       row_group_size=128)

    _materialize(path, build)
    checkpoints = [cfg.epoch_base + int(f * rows_per_source) * cfg.epoch_step
                   for f in CHECKPOINT_FRACTIONS]
    return Sequences(path=path, plan=plan, channels=channels,
                     checkpoints=checkpoints, table=pq.read_table(path))


# ------------------------------------------------------------ SQL tables

# The tables follow the shape of the repository's TPC-H-like test tables
# (the ones the SQL tests and tools/verify_contract.py read), scaled the same
# way with ``scale``: row counts, key ranges, value distributions, a
# 30-word vocabulary, 10-99 words per document, 5% exact duplicates marked
# " dup". ``perfbench/shape.py`` compares the two.
_WORDS = ("the a spark join merge batch table window big small line agg "
          "slow fast stream customer group data vector order column part "
          "sort filter scan value hash key query row").split()
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS, _LANG_P = ("en", "de", "fr", "es", "zh"), (0.44, 0.14, 0.14, 0.14, 0.14)
SQL_TABLES = ("events", "lineitem", "documents")


def sql_tables(seed: int, scale: float) -> str:
    """Directory holding ``<name>.parquet`` for each of SQL_TABLES."""
    path = _cache_dir("sql", seed=seed, scale=scale)

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 7])
        n_ev, n_users = int(1_000_000 * scale), int(15_000 * scale)
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        span_us = 30 * 86_400 * 10**6
        ts = np.sort(rng.integers(0, span_us, n_ev)) + t0
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
            "value": pa.array(np.maximum(
                np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}'
                               for k in rng.integers(0, 100, n_ev)]),
        }), os.path.join(tmp, "events.parquet"))

        n_li = int(6_000_000 * scale)
        pq.write_table(pa.table({
            "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * scale),
                                                n_li)),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * scale), n_li)),
            "l_suppkey": pa.array(rng.integers(0, int(10_000 * scale), n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li)
                                     .astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(list("ANR"), n_li)),
            "l_linestatus": pa.array(rng.choice(list("OF"), n_li)),
            "l_shipdate": pa.array(
                (np.datetime64("1995-01-01", "D")
                 + rng.integers(1, 2500, n_li)).astype("datetime64[us]"),
                pa.timestamp("us")),
        }), os.path.join(tmp, "lineitem.parquet"))

        n_docs = max(500, int(50_000 * scale))
        texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
                 for _ in range(n_docs)]
        dups = rng.choice(n_docs, n_docs // 20, replace=False)
        originals = np.setdiff1d(np.arange(n_docs), dups)
        for i in dups:  # an exact copy of another document, marked
            texts[i] = texts[int(rng.choice(originals))] + " dup"
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.asarray([len(t) for t in texts],
                                           dtype=np.int64)),
        }), os.path.join(tmp, "documents.parquet"))

    _materialize(path, build)
    return path
