"""The benchmark workloads.

Each workload stages its inputs into a session, runs one iteration of
its unit of work through the public kgforge functions (every call inside
a span), checks the outputs of its last iteration outside the timed
region, and, for the traced run, reports the layer counts that need
extra Spark jobs (run after the timed loop, under their own job group).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow.parquet as pq

import gen


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class Workload:
    name = ""
    size = 0  # default input size

    def __init__(self, cache_dir: str, work_dir: str, seed: int, size: int, tracer):
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.inputs = gen.ensure_inputs(cache_dir, self.name, seed, size)

    def stage(self, spark) -> None:
        """Input staging (part of set-up)."""

    def iterate(self, spark, i: int) -> int:
        """One unit of work; returns the number of operations it ran."""
        raise NotImplementedError

    def triples(self, spark) -> int:
        """Triples behind one iteration (for run.triples_per_s)."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """Output checks of the last iteration; returns the failures."""
        raise NotImplementedError

    def probe(self, spark) -> dict[str, float]:
        """Layer counts for the traced run."""
        return {}


# ---------------------------------------------------------------------------
# repos_build
# ---------------------------------------------------------------------------

class ReposBuild(Workload):
    """A cold ``run_kg_pipeline`` into a fresh workdir, then
    ``write_repaired`` of triples, nodes and edges — ``jobs/kg_job.py``."""

    name = "repos_build"
    size = 300
    stages = ["triples", "canonical", "linked", "nodes", "edges"]

    def stage(self, spark) -> None:
        from kgforge.io.sources import read_repos

        self.repos_path = os.path.join(self.inputs, "repos.parquet")
        self.rows = read_repos(spark, self.repos_path).count()

    def _build(self, spark, repos_path: str, tag: str) -> str:
        from kgforge.graph.materialize import write_repaired
        from kgforge.io.sources import read_repos
        from kgforge.lineage import run_kg_pipeline

        wd = os.path.join(self.work_dir, tag)
        shutil.rmtree(wd, ignore_errors=True)
        span = self.tracer.span
        with span("io", "read_repos"):
            repos = read_repos(spark, repos_path)
        with span("pipeline", "run_kg_pipeline"):
            out = run_kg_pipeline(spark, repos, os.path.join(wd, "ck"))
        with span("graph", "write"):
            write_repaired(out["triples"], f"{wd}/out/triples", ["repo", "path"])
            write_repaired(out["nodes"], f"{wd}/out/nodes", ["canonical_id"])
            write_repaired(out["edges"], f"{wd}/out/edges", ["src", "pred"])
        return wd

    def iterate(self, spark, i: int) -> int:
        if getattr(self, "last", None):
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = self._build(spark, self.repos_path, f"iter{i}")
        return len(self.stages) + 1  # the stages and the output write

    def _out(self, table: str):
        return pq.read_table(os.path.join(self.last, "out", table))

    def triples(self, spark) -> int:
        return self._out("triples").num_rows

    def check(self, spark) -> list[str]:
        from kgforge.fixtures import golden_triples_for_rows

        fails = []
        rows = pq.read_table(self.repos_path).to_pylist()
        key = ("repo", "path", "unit_id", "subj", "pred", "obj", "subj_type", "obj_type")
        gold = {tuple(t[k] for k in key) for t in golden_triples_for_rows(rows)}
        got_t = self._out("triples").to_pylist()
        got = {tuple(t[k] for k in key) for t in got_t}
        tp = len(gold & got)
        p = tp / len(got) if got else 0.0
        r = tp / len(gold) if gold else 0.0
        if got != gold:
            fails.append(f"triples differ from golden: P={p:.4f} R={r:.4f}")
        sha = {
            (x["repo"], x["path"]): hashlib.sha256(x["content"].encode()).hexdigest()
            for x in rows
        }
        bad_sha = sum(1 for t in got_t if sha.get((t["repo"], t["path"])) != t["content_sha"])
        if bad_sha:
            fails.append(f"{bad_sha} triples carry a wrong content_sha")
        w = sum(self._out("edges").column("weight").to_pylist())
        if w != len(got_t):
            fails.append(f"sum(edges.weight)={w} != {len(got_t)} triples")
        done = [
            s for s in self.stages
            if os.path.exists(os.path.join(self.last, "ck", s, "_COMPLETE"))
        ]
        if len(done) != len(self.stages):
            fails.append(f"lineage stages complete: {done}")
        return fails

    def probe(self, spark) -> dict[str, float]:
        from kgforge.extract.units import extract_units_text
        from kgforge.graph.materialize import detect_hot_edge_keys
        from kgforge.link.canonical import (
            MAX_BUCKET,
            entity_vertices,
            lsh_bucket_stats,
            lsh_candidate_pairs,
        )
        from pyspark.sql import functions as F

        rows = pq.read_table(self.repos_path).to_pylist()
        units = sum(len(extract_units_text(r["content"], r["lang"])) for r in rows)
        ck = os.path.join(self.last, "ck")
        triples = spark.read.parquet(os.path.join(ck, "triples", "data"))
        verts = entity_vertices(triples).localCheckpoint(eager=True)
        cand = lsh_candidate_pairs(verts, jaccard_threshold=0.0).count()
        verified = lsh_candidate_pairs(verts).count()
        dropped = (
            lsh_bucket_stats(verts)
            .filter(F.col("bucket_size") > MAX_BUCKET)
            .agg(F.sum("n_buckets"))
            .collect()[0][0]
        ) or 0
        canonical = spark.read.parquet(os.path.join(ck, "canonical", "data"))
        linked = spark.read.parquet(os.path.join(ck, "linked", "data"))
        n_triples = self.triples(spark)
        return {
            "extract.units": units,
            "extract.triples": n_triples,
            "extract.triples_per_unit": n_triples / units if units else 0.0,
            "link.vertices": verts.count(),
            "link.candidate_pairs": cand,
            "link.verified_pairs": verified,
            "link.verify_yield": verified / cand if cand else 0.0,
            "link.buckets_dropped": dropped,
            "link.clusters": canonical.select("canonical_id").distinct().count(),
            "graph.hot_keys": detect_hot_edge_keys(linked).count(),
            "lineage.bytes_written": dir_bytes(ck),
            "lineage.stages_complete": sum(
                os.path.exists(os.path.join(ck, s, "_COMPLETE")) for s in self.stages
            ),
            "graph.bytes_written": dir_bytes(os.path.join(self.last, "out")),
        }


# ---------------------------------------------------------------------------
# operator_suite
# ---------------------------------------------------------------------------

# registry leaves, in this fixed order: one per family the roadmap's open
# performance items live in (text functions, MinHash dedup, the Lloyd
# loop, graph algorithms)
LEAVES = [
    "text_lm_perplexity",
    "dedup_minhash_pairs",
    "embed_kmeans",
    "kg_triangles",
]


class OperatorSuite(Workload):
    """Registry leaves over generated documents and embeddings tables."""

    name = "operator_suite"
    size = 500

    def stage(self, spark) -> None:
        self.sf_dir = self.inputs
        for t in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).count()

    def iterate(self, spark, i: int) -> int:
        from kgforge.queries import ALL_QUERIES

        self.results = {}
        for leaf in LEAVES:
            with self.tracer.span("queries", leaf):
                df = ALL_QUERIES[leaf](spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            self.results[leaf] = ([c.lower() for c in df.columns], rows)
        return len(LEAVES)

    def triples(self, spark) -> int:
        """The triples the suite's KG leaf analyses: the extraction
        cascade's output over the documents table."""
        from kgforge.queries import ALL_QUERIES

        return ALL_QUERIES["kg_triples"](spark, self.sf_dir).count()

    def check(self, spark) -> list[str]:
        import duckdb

        from kgforge.queries import ALL_ORACLES
        from scripts.check_oracles import normalize

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            fails = []
            for leaf in LEAVES:
                cols, rows = self.results[leaf]
                res = con.sql(ALL_ORACLES[leaf])
                dcols = [c.lower() for c in res.columns]
                drows = res.fetchall()
                if sorted(cols) != sorted(dcols):
                    fails.append(f"{leaf}: columns {sorted(cols)} vs {sorted(dcols)}")
                elif normalize(rows, cols) != normalize(drows, dcols):
                    fails.append(f"{leaf}: {len(rows)} rows differ from the oracle's {len(drows)}")
            return fails
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (ReposBuild, OperatorSuite)}
