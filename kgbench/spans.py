"""Spans around the calls into each kgforge layer, and the Spark
event-log roll-up for the traced run.

A span is opened by the benchmark's own code around a public call; it
sets a Spark job group ``<layer>:<name>:<seq>`` for its duration, so
every job the call triggers is tagged with the layer that caused it.
Spans are kept in memory and written out once, when the run ends.

Three public entry points have their calls wrapped at run time so that
spans exist inside ``run_kg_pipeline`` without editing the program:
``StageRunner.run`` (one span per pipeline stage), ``connected_components``
(the CC loop inside canonicalization) and ``DataFrameWriter.parquet``
for targets ending in ``/lineage`` (the per-stage lineage manifest).
The wrappers call through unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

# pipeline stage -> the layer whose work it runs
STAGE_LAYER = {
    "triples": "extract",
    "canonical": "link",
    "linked": "graph",
    "nodes": "graph",
    "edges": "graph",
}
EVENT_LAYERS = ["extract", "lineage", "link", "graph"]
# job group of jobs started outside any span
IDLE = "bench:idle:0"

# Spark SQL metric names of the Python-UDF operators (ArrowEvalPython,
# MapInPandas, ...) as they appear in task accumulables; the time is in ms
PY_TIME = "time to run python workers"
PY_SENT = "data sent to python workers"
PY_RECV = "data returned from python workers"


class Tracer:
    """Spans and job groups for one benchmark process."""

    def __init__(self):
        self.spark = None
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[str] = []
        self._seq = 0

    def bind(self, spark) -> None:
        self.spark = spark
        self._set_group(IDLE)

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        self._seq += 1
        group = f"{layer}:{name}:{self._seq}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(group)
        self._set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else IDLE)
            self.spans.append({
                "group": group, "layer": layer, "name": name,
                "parent": parent, "phase": self.phase,
                "start": t0, "end": t1,
            })

    def spans_in(self, phase: str) -> list[dict]:
        return [s for s in self.spans if s["phase"] == phase]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install_hooks(tracer: Tracer) -> None:
    """Wrap the program entry points listed in the module docstring."""
    import kgforge.graph.materialize as materialize
    import kgforge.link.cc as cc
    from kgforge.lineage import StageRunner
    from pyspark.sql.readwriter import DataFrameWriter

    run = StageRunner.run

    @functools.wraps(run)
    def traced_run(self, stage, build):
        with tracer.span(STAGE_LAYER.get(stage, "lineage"), stage):
            return run(self, stage, build)

    StageRunner.run = traced_run

    components = cc.connected_components

    @functools.wraps(components)
    def traced_cc(*args, **kwargs):
        with tracer.span("link", "cc"):
            return components(*args, **kwargs)

    cc.connected_components = traced_cc
    materialize.connected_components = traced_cc

    parquet = DataFrameWriter.parquet

    @functools.wraps(parquet)
    def traced_parquet(self, path, *args, **kwargs):
        if str(path).rstrip("/").endswith("/lineage"):
            with tracer.span("lineage", "manifest"):
                return parquet(self, path, *args, **kwargs)
        return parquet(self, path, *args, **kwargs)

    DataFrameWriter.parquet = traced_parquet


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (stopped) sessions that logged into ``log_dir``."""
    events = []
    for base, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.endswith(".inprogress"):
                raise RuntimeError(f"event log still open: {name}")
            if name.startswith("appstatus"):
                continue
            with open(os.path.join(base, name)) as f:
                events.extend(json.loads(line) for line in f)
    return events


def rollup(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, shuffle bytes, spill, task run/CPU
    time, parquet scan figures and Python-UDF time/bytes."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or IDLE
            job_group[ev["Job ID"]] = g
            out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"], IDLE)
            out[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], IDLE)
            m = ev.get("Task Metrics") or {}
            o = out[g]
            o["tasks"] += 1
            o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            o["input_bytes"] += inp.get("Bytes Read", 0)
            o["input_rows"] += inp.get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = str(acc.get("Name", "")).lower()
                val = _acc_value(acc.get("Update"))
                if name == "scan time":
                    o["scan_s"] += val / 1e3
                elif name == PY_TIME:
                    o["python_s"] += val / 1e3
                elif name == PY_SENT:
                    o["python_bytes_sent"] += val
                elif name == PY_RECV:
                    o["python_bytes_recv"] += val
    return {g: dict(v) for g, v in out.items()}


def by_layer(groups: dict[str, dict[str, float]], phase_groups: set[str]) -> dict:
    """Sum group roll-ups by layer (the part of the group id before the
    first ':'), keeping only the groups opened in the traced phase."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for g, vals in groups.items():
        if g not in phase_groups:
            continue
        layer = g.split(":", 1)[0]
        for k, v in vals.items():
            out[layer][k] += v
            out["*"][k] += v
    return out
