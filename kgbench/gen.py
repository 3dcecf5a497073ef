"""Seeded load generator for the benchmark.

Every input is a pure function of (workload, seed, size): the same
arguments give byte-identical parquet files.  Inputs are cached under
``<cache_dir>/<workload>-s<seed>-n<size>/`` so a repeated run with the
same seed skips generation; a directory is only used once its
``_COMPLETE`` marker exists.

The repos corpus comes from the program's own fixture generator
``kgforge.fixtures.gen_repo_rows`` (seeded ``random.Random``); the
operator tables are drawn with numpy, vectorized.

    python3 kgbench/gen.py --workload repos_build --seed 1 --size 1000 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# parquet writer settings are pinned so output bytes depend only on data
_PQ = dict(compression="zstd", use_dictionary=True, write_statistics=True)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_PQ)


def _seed_for(workload: str, seed: int) -> int:
    h = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return int.from_bytes(h[:8], "big")


# ---------------------------------------------------------------------------
# repos corpus (repos_build)
# ---------------------------------------------------------------------------

def gen_repos(out: str, seed: int, n_files: int) -> None:
    from kgforge.fixtures import gen_repo_rows

    rows = gen_repo_rows(
        n_files, seed=_seed_for("repos", seed) % (1 << 31),
        min_sents=8, max_sents=40,
    )
    _write(pa.Table.from_pylist(rows), os.path.join(out, "repos.parquet"))


# ---------------------------------------------------------------------------
# operator tables (operator_suite): documents + embeddings
# ---------------------------------------------------------------------------

# Shape of the repository's sf0.1 ``documents`` and ``embeddings`` test
# tables (5,000 and 2,000 rows), as measured on them:
# - documents: 10-100 tokens, uniform over 30 words, each word ~1/30 of
#   the tokens; 250 documents (5%) carry the extra token "dup" at a random
#   position, none of them an edit of its predecessor; lang en 41%, zh,
#   es, fr, de ~15% each; source src<doc_id % 20>; n_chars = len(text).
# - embeddings: 64-dim float32 of unit norm (std 0.125 per element), no
#   structure by label; labels 0-9 uniform.
# scripts/gen_vet_data.py generates tables of the same schema, but with
# another vocabulary ("custom", "index", "cache", "plan" in place of
# "customer", "the", "vector", and no "dup"), en at 2/6 and
# unnormalized embeddings, so it is not used here.
# kgbench/test_kgbench.py compares these statistics with the tables.
DOC_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
DUP_SHARE = 0.05


def gen_operator_tables(out: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng(_seed_for("operator_suite", seed))
    vocab = np.array(DOC_VOCAB, dtype=object)
    lens = rng.integers(10, 101, size=n_docs)
    toks = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(toks[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < DUP_SHARE):
        docs[i][rng.integers(0, lens[i])] = "dup"
    texts = [" ".join(d) for d in docs]
    langs = np.array(DOC_LANGS, dtype=object)[rng.integers(0, len(DOC_LANGS), n_docs)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    labels = rng.integers(0, 10, size=n_vecs)
    emb = rng.standard_normal((n_vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

GENERATORS = {
    "repos_build": lambda out, seed, size: gen_repos(out, seed, size),
    "operator_suite": lambda out, seed, size: gen_operator_tables(
        out, seed, n_docs=size, n_vecs=size,
    ),
}


def ensure_inputs(cache_dir: str, workload: str, seed: int, size: int) -> str:
    """Directory holding the inputs for (workload, seed, size); generated
    on first use, reused afterwards."""
    d = os.path.join(cache_dir, f"{workload}-s{seed}-n{size}")
    if os.path.exists(os.path.join(d, "_COMPLETE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, size)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--out", required=True, help="cache directory")
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(ensure_inputs(args.out, args.workload, args.seed, args.size))


if __name__ == "__main__":
    main()
