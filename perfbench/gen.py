"""Seeded input generator for the benchmark.

Every corpus is derived from ``perfbench/base/``: the sf0.01 tables of the
project's reference test corpus (one parquet file per table; the workloads
read no embeddings, so that table is left out). The program under test only
ever sees the derived files, one parquet file per table as in the base.

Derivation, all driven by one seed:

* every table's rows are written in a seeded order;
* stream shards are seeded copies of the base documents: a copied document
  is either fresh (a base document's words in a seeded order), a near
  duplicate (an earlier text with one word replaced) or an exact duplicate
  (an earlier text verbatim, from the documents table or an earlier shard),
  in the spec's stated fractions; the manifest records the realised counts.

A corpus is cached by (workload, seed, spec) under ``.perfbench_data/`` in the
current directory and written atomically (temp dir + rename).
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

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
DATA_ROOT = ".perfbench_data"

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents",
)


@dataclass(frozen=True)
class CorpusSpec:
    """Tables and stream shards of one workload's corpus."""

    tables: tuple[str, ...] = ALL_TABLES
    near_dup: float = 0.05  # share of shard documents that are near duplicates
    exact_dup: float = 0.02  # share of shard documents that are exact duplicates
    shards: int = 0  # stream shards
    shard_docs: int = 100  # documents per stream shard


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def _copy_texts(base: list[str], pool: list[str], n: int, rng, near: float, exact: float):
    """``n`` new texts drawn against ``pool`` (which they extend): fresh ones
    shuffle a base text's words, near duplicates replace one word of a pool
    text, exact duplicates repeat a pool text."""
    kinds = rng.choice(3, n, p=[1.0 - near - exact, near, exact])
    vocab = sorted({w for t in base for w in t.split()})
    out = []
    for i, kind in enumerate(kinds):
        if kind == 0:
            words = base[i % len(base)].split()
            out.append(" ".join(words[j] for j in rng.permutation(len(words))))
            continue
        src = pool[int(rng.integers(0, len(pool)))]
        if kind == 2:
            out.append(src)
            continue
        words = src.split()
        words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        out.append(" ".join(words))
    pool.extend(out)
    return out, {"fresh": int((kinds == 0).sum()), "near_dup": int((kinds == 1).sum()),
                 "exact_dup": int((kinds == 2).sum())}


def _doc_table(base: pa.Table, texts: list[str], first_id: int) -> pa.Table:
    """Documents with new ids and texts; lang/source cycle through the base."""
    n = len(texts)
    take = pa.array(np.arange(n) % base.num_rows)
    rest = base.take(take)
    cols = {
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": rest.column("lang"),
        "source": rest.column("source"),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    return pa.table([cols[f.name] for f in base.schema], schema=base.schema)


def _shuffled(t: pa.Table, rng) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def build(spec: CorpusSpec, seed: int, out_dir: str) -> dict:
    """Write the corpus for ``spec`` and ``seed`` into ``out_dir``; returns
    the manifest (rows and bytes per table, duplicate counts)."""
    rng = np.random.default_rng(seed)
    tables = {t: _read(t) for t in spec.tables}
    manifest: dict = {"seed": seed, "spec": dict(spec.__dict__), "tables": {}}

    for name in spec.tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_shuffled(tables[name], rng), path)
        manifest["tables"][name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(path)}

    if spec.shards:
        base_docs = tables["documents"]
        base_texts = base_docs.column("text").to_pylist()
        pool = list(base_texts)
        shard_dir = os.path.join(out_dir, "shards")
        os.makedirs(shard_dir)
        shards = []
        first = base_docs.num_rows
        for s in range(spec.shards):
            texts, kinds = _copy_texts(base_texts, pool, spec.shard_docs, rng,
                                       spec.near_dup, spec.exact_dup)
            path = os.path.join(shard_dir, f"shard-{s:05d}.parquet")
            pq.write_table(_doc_table(base_docs, texts, first + s * len(texts)), path)
            shards.append({"rows": len(texts), "bytes": os.path.getsize(path), **kinds})
        manifest["shards"] = shards
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, default=list)
    return manifest


def corpus(workload: str, spec: CorpusSpec, seed: int) -> tuple[str, dict]:
    """Cached corpus directory and manifest for (workload, seed); the key
    also carries a digest of the spec, so a changed spec is rebuilt."""
    digest = hashlib.sha1(repr(spec).encode()).hexdigest()[:8]
    out_dir = os.path.join(DATA_ROOT, workload, f"seed{seed}-{digest}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{out_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            build(spec, seed, tmp)
            os.rename(tmp, out_dir)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    with open(manifest_path) as f:
        return os.path.abspath(out_dir), json.load(f)
