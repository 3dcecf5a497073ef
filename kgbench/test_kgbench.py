"""Self-tests of the benchmark: deterministic inputs, metric names, the
event-log roll-up, and a tiny run of each workload that must pass its
output check.

    python3 -m pytest -q kgbench/test_kgbench.py
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import rollup  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = {"repos_build": 30, "operator_suite": 60}


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7, TINY[workload])
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7, TINY[workload])
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8, TINY[workload])
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def _doc_stats(path):
    import numpy as np
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(path, "documents.parquet")).to_pylist()
    words = [d["text"].split(" ") for d in docs]
    emb = np.array(
        pq.read_table(os.path.join(path, "embeddings.parquet")).column("embedding").to_pylist()
    )
    return {
        "vocab": sorted({w for ws in words for w in ws}),
        "lens": (min(map(len, words)), max(map(len, words))),
        "en": sum(d["lang"] == "en" for d in docs) / len(docs),
        "langs": sorted({d["lang"] for d in docs}),
        "dup": sum("dup" in ws for ws in words) / len(docs),
        "sources": sorted({d["source"] for d in docs}),
        "norm": float(np.linalg.norm(emb, axis=1).mean()),
    }


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF_DIR"),
    reason="SPARK_GRAFT_SF_DIR (the sf0.1 test tables) not set",
)
def test_operator_tables_match_the_test_tables(tmp_path):
    want = _doc_stats(os.environ["SPARK_GRAFT_SF_DIR"])
    got = _doc_stats(gen.ensure_inputs(str(tmp_path), "operator_suite", 1, 5000))
    for k in ("vocab", "lens", "langs", "sources"):
        assert got[k] == want[k], k
    for k, tol in (("en", 0.03), ("dup", 0.015), ("norm", 1e-3)):
        assert abs(got[k] - want[k]) < tol, (k, got[k], want[k])


def test_spec_names():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(gen.GENERATORS)


def test_rollup_groups_jobs_stages_and_tasks():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract:triples:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "link:cc:2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "100"},
             {"Name": "time to run Python workers", "Update": "400"},
             {"Name": "scan time", "Update": 250}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 500, "Memory Bytes Spilled": 8,
                          "Shuffle Read Metrics": {"Local Bytes Read": 32}}},
    ]
    g = rollup(events)
    ex, cc = g["extract:triples:1"], g["link:cc:2"]
    assert (ex["jobs"], ex["stages"], ex["task_run_s"], ex["task_cpu_s"]) == (1, 1, 1.5, 1.0)
    assert (ex["python_bytes_sent"], ex["python_s"], ex["scan_s"]) == (100, 0.4, 0.25)
    assert ex["shuffle_write_bytes"] == 64
    # stage 1 belongs to the first job that listed it; stage 2 to the cc job
    assert (cc["jobs"], cc["stages"], cc["spill_bytes"], cc["shuffle_read_bytes"]) == (1, 1, 8, 32)


def _run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", str(TINY[workload])]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_tiny_run_passes_its_checks(workload):
    out = _run(workload, 0)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert sorted(out["metrics"]) == sorted(m["name"] for m in SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_tiny_traced_run_reports_every_layer_metric():
    out = _run("repos_build", 1)
    assert out["correct"] is True
    assert sorted(out["metrics"]) == sorted(m["name"] for m in SPEC["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["extract.s"] > 0 and m["link.s"] > 0 and m["queries.s"] == 0
    assert m["lineage.stages_complete"] == 5
